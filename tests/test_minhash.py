"""MinHash function-boundary contracts (round-2 ADVICE): the 16-rotation
limit, and graph-identity doc dedup + rewrite-flagged materialize."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gleaner_spark.core.text import md5_minhash_signature
from gleaner_spark.functions.minhash import (
    minhash_from_rows, minhash_lsh_pairs,
)


def test_minhash_k_limit_enforced(spark):
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    with pytest.raises(ValueError, match="1..16"):
        minhash_from_rows(df, ["id"], k=17)
    with pytest.raises(ValueError, match="1..16"):
        minhash_lsh_pairs(df, "id", band_size=1, max_bucket=8, k=17)
    with pytest.raises(ValueError, match="1..16"):
        md5_minhash_signature(["a"], 17)
    from gleaner_spark.plans.queries import _minhash_sql

    with pytest.raises(ValueError, match="1..16"):
        _minhash_sql("shingles", True, k=20)


@pytest.mark.parametrize("k,band_size", [(16, 1), (15, 3), (16, 8)])
def test_minhash_lsh_pairs_any_band_width_matches_reference(
        spark, k, band_size):
    """The rank path packs two ranks per long for ANY band width — odd
    widths leave one rank alone — and must band exactly like the
    md5-string signature, bucket cap included."""
    import random

    rng = random.Random(k * 100 + band_size)
    vocab = [f"t{i}" for i in range(12)]
    docs = {d: set(rng.sample(vocab, rng.randint(1, 4))) for d in range(60)}
    rows = spark.createDataFrame(
        [(d, s) for d, sh in docs.items() for s in sorted(sh)],
        "id long, s string")
    got = {(r.a, r.b)
           for r in minhash_lsh_pairs(rows, "id", band_size, 8, k=k).collect()}

    buckets = {}
    for d, sh in docs.items():
        sig = md5_minhash_signature(sorted(sh), k)
        for b in range(k // band_size):
            key = (b, tuple(sig[b * band_size:(b + 1) * band_size]))
            buckets.setdefault(key, []).append(d)
    want = {(x, y) for m in buckets.values() if len(m) <= 8
            for x in m for y in m if x < y}
    assert got == want and want


def test_dedup_docs_collapses_norm_sha_collisions(spark):
    """Two raw-byte-distinct docs with identical URDNA2015 normalization
    share a graph URN — dedup_docs must keep exactly one so every graph
    has one doc (the invariant materialize_triples relies on)."""
    from gleaner_spark.operators.stages import dedup_docs, normalize_stage

    # same doc content, different key order → different raw bytes/sha1,
    # identical canonical n-quads
    a = ('{"@context": {"@vocab": "https://schema.org/"}, '
         '"@id": "https://x.org/d", "@type": "Dataset", "name": "N"}')
    b = ('{"@id": "https://x.org/d", "@type": "Dataset", "name": "N", '
         '"@context": {"@vocab": "https://schema.org/"}}')
    blocks = spark.createDataFrame(
        [("https://h.org/1", "srcA", a), ("https://h.org/2", "srcA", b)],
        "url string, source string, jsonld string",
    ).select(
        "url", F.lit(None).cast("timestamp").alias("warc_ts"), "source",
        F.lit("h.org").alias("host"), F.lit("en").alias("lang"),
        F.lit("jsonsha").alias("identifiertype"),
        F.lit("").alias("identifierpath"),
        F.lit("strict").alias("fixcontextoption"),
        F.lit(0).alias("block_idx"), "jsonld", F.lit("static").alias("via"),
    )
    docs = normalize_stage(blocks)
    rows = docs.filter(F.col("valid")).collect()
    assert len(rows) == 2
    assert rows[0].doc_sha1 != rows[1].doc_sha1        # raw shas differ
    assert rows[0].norm_sha256 == rows[1].norm_sha256  # same graph id
    kept = dedup_docs(docs).collect()
    assert len(kept) == 1
    # deterministic survivor: min by (doc_sha1, url, block_idx)
    expected = min((r.doc_sha1, r.url) for r in rows)
    assert (kept[0].doc_sha1, kept[0].url) == expected


def test_materialize_dedups_only_rewritten_graphs(spark):
    """materialize dedups exactly across rewritten and untouched graphs
    and drops the linker's _rewritten flag.  (Round 5: the semi/anti
    graph-split was measured 2x SLOWER than the single dedup shuffle —
    it re-scanned the link plan three times — so one full dropDuplicates
    is now the formulation; the exactness contract here is unchanged.)"""
    from gleaner_spark.operators.stages import materialize_triples

    rows = [
        # untouched graph g1 (unique by construction upstream)
        ("<s1>", "<p>", "<o>", "g1", "src", False),
        ("<s1>", "<p>", '"v"', "g1", "src", False),
        # graph g2: rewrite collapsed two subjects into one → exact dupes
        ("<c>", "<p>", "<o>", "g2", "src", True),
        ("<c>", "<p>", "<o>", "g2", "src", False),
    ]
    df = spark.createDataFrame(
        rows, "subject string, predicate string, object string, "
              "graph string, source string, _rewritten boolean",
    )
    out = materialize_triples(df)
    assert "_rewritten" not in out.columns
    got = {(r.subject, r.predicate, r.object, r.graph) for r in out.collect()}
    assert got == {
        ("<s1>", "<p>", "<o>", "g1"),
        ("<s1>", "<p>", '"v"', "g1"),
        ("<c>", "<p>", "<o>", "g2"),
    }
    assert out.count() == 3


def test_robots_empty_disallow_allows_everything(spark):
    """robots.txt 'Disallow:' with an empty value means ALLOW ALL — it
    must not become a match-all prefix (review finding r2)."""
    from gleaner_spark.operators.robots import robots_filter

    pages = spark.createDataFrame(
        [("https://a.org/doc/1",), ("HTTPS://a.org/doc/2",), ("https://a.org",)],
        "url string",
    )
    rules = spark.createDataFrame(
        [("a.org", ""), ("a.org", "/doc/2")],
        "host string, disallow_prefix string",
    )
    kept = {r.url for r in robots_filter(pages, rules).collect()}
    # empty rule drops nothing; /doc/2 drops the page even with an
    # uppercase scheme; the path-less URL maps to '/' and survives
    assert kept == {"https://a.org/doc/1", "https://a.org"}
    # a 'Disallow: /' rule blocks the path-less URL too
    rules2 = spark.createDataFrame([("a.org", "/")],
                                   "host string, disallow_prefix string")
    assert robots_filter(pages, rules2).count() == 0


def test_cc_self_loop_vertex_survives(spark):
    from gleaner_spark.operators.link import connected_components

    edges = spark.createDataFrame([("a", "a"), ("b", "c")],
                                  "a string, b string")
    comp = {r.entity: r.component
            for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "b", "c": "b"}


def test_robots_sitemap_directive_case_insensitive(spark):
    from gleaner_spark.sources.sitemap import robots_sitemap_urls

    robots = spark.createDataFrame(
        [("s", "SITEMAP: https://s.org/a.xml\nSiteMap: https://s.org/b.xml\n")],
        "source string, body string",
    )
    got = {r.sitemap_url for r in robots_sitemap_urls(robots).collect()}
    assert got == {"https://s.org/a.xml", "https://s.org/b.xml"}


def test_org_triples_dedup_duplicate_sources(spark):
    from gleaner_spark.operators.provenance import org_triples

    dim = spark.createDataFrame(
        [("s1", "https://pid/1", "S One", "https://s1.org", "s1.org", True),
         ("s1", "https://pid/1", "S One", "https://s1.org", "s1.org", True)],
        "name string, pid string, propername string, url string, "
        "domain string, active boolean",
    )
    t = org_triples(dim)
    assert t.count() == t.distinct().count()


def test_context_assets_dir_loading(tmp_path, monkeypatch):
    import json as _json

    from gleaner_spark.core import jsonld as J

    asset = {"url": "https://ctx.example.org/x.jsonld",
             "context": {"p": "http://purl.org/x/p"}}
    (tmp_path / "x.json").write_text(_json.dumps(asset))
    (tmp_path / "broken.json").write_text("{not json")
    monkeypatch.setenv("GLEANER_CONTEXTS_DIR", str(tmp_path))
    try:
        J._load_context_assets_from_env()
        doc = {"@context": "https://ctx.example.org/x.jsonld",
               "@id": "https://e.org/1", "p": "v"}
        nq = J.serialize_nquads(J.to_rdf(doc))
        assert "<http://purl.org/x/p>" in nq
    finally:
        J.REMOTE_CONTEXTS.pop("https://ctx.example.org/x.jsonld", None)


def test_vectorized_cosine_rejects_zero_query(spark):
    import pytest as _pytest

    from gleaner_spark.functions.vecmath import cosine_to_query_udf

    with _pytest.raises(ValueError, match="zero norm"):
        cosine_to_query_udf([0.0, 0.0, 0.0])

def test_robots_rep_wildcards_and_allow_precedence(spark):
    """Full REP matching (the reference's robots library semantics):
    '*' wildcards, '$' end anchors, longest-match precedence with Allow
    winning length ties (Google REP §2.2.2)."""
    from gleaner_spark.operators.robots import robots_filter

    pages = spark.createDataFrame(
        [(f"https://a.org{p}",) for p in (
            "/doc/100",   # Disallow /doc/1 → denied
            "/doc/123",   # Allow /doc/12 (len 7 > 6) → kept
            "/doc/124",   # Allow /doc/12 beats /*4$ (len 7 > 4) → kept
            "/doc/204",   # Disallow /*4$ → denied
            "/doc/300",   # no matching rule → kept
            "/x.pdf",     # Disallow /*.pdf$ → denied
            "/x.pdf/ok",  # $-anchor: NOT denied (path continues) → kept
        )],
        "url string",
    )
    rules = spark.createDataFrame(
        [
            ("a.org", "/doc/1", False),
            ("a.org", "/doc/12", True),
            ("a.org", "/*4$", False),
            ("a.org", "/*.pdf$", False),
        ],
        "host string, path_pattern string, allow boolean",
    )
    kept = {r.url.rsplit("org", 1)[1] for r in robots_filter(pages, rules).collect()}
    assert kept == {"/doc/123", "/doc/124", "/doc/300", "/x.pdf/ok"}


def test_robots_allow_wins_equal_length_tie(spark):
    from gleaner_spark.operators.robots import robots_filter

    pages = spark.createDataFrame([("https://a.org/p",)], "url string")
    rules = spark.createDataFrame(
        [("a.org", "/p", False), ("a.org", "/p", True)],
        "host string, path_pattern string, allow boolean",
    )
    assert robots_filter(pages, rules).count() == 1


def test_sign_lsh_bucket_cap_drops_hot_bucket(spark):
    """cap_buckets applied to the sign-LSH paths: a pathological corpus
    whose embeddings all share one sign bucket (all-positive dims) must
    not self-join quadratically — the hot bucket is dropped."""
    from pyspark.sql import functions as F

    from gleaner_spark.functions.minhash import cap_buckets

    n = 50
    eb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.lit("11111111").alias("bucket"),
    ).unionByName(
        spark.range(2).select(
            (F.col("id") + 1000).alias("vec_id"), F.lit("00000001").alias("bucket")
        )
    )
    capped = cap_buckets(eb, ["bucket"], max_bucket=10)
    assert capped.filter(F.col("bucket") == "11111111").count() == 0
    assert capped.filter(F.col("bucket") == "00000001").count() == 2


def test_drive_file_list_cycle_terminates_and_long_chain_raises(spark):
    """S8 drive_file_list: a cyclic nextPageToken chain terminates via
    the seen-set (each page ingested once, no infinite loop); a chain
    longer than max_pages raises."""
    import pytest

    from gleaner_spark.sources.gdrive import drive_file_list

    cyc = spark.createDataFrame(
        [("s", "", "t1"), ("s", "t1", "")],
        "source string, page_token string, next_page_token string",
    )
    files = spark.createDataFrame(
        [("s", "", "f1", "n1"), ("s", "t1", "f2", "n2"),
         ("s", "t9", "orphan", "n3")],
        "source string, page_token string, file_id string, name string",
    )
    got = {r.file_id for r in drive_file_list(cyc, files, max_pages=4).collect()}
    assert got == {"f1", "f2"}

    chain = spark.createDataFrame(
        [("s", "", "t1")] + [(f"s", f"t{i}", f"t{i+1}") for i in range(1, 7)],
        "source string, page_token string, next_page_token string",
    )
    with pytest.raises(RuntimeError, match="longer than"):
        drive_file_list(chain, files, max_pages=4)

    # boundary: an acyclic chain of EXACTLY max_pages hops is legal —
    # the guard must only fire past it (round-3 ADVICE off-by-one)
    boundary = spark.createDataFrame(
        [("s", "", "t1"), ("s", "t1", "t2"), ("s", "t2", None)],
        "source string, page_token string, next_page_token string",
    )
    bfiles = spark.createDataFrame(
        [("s", "", "f1", "n"), ("s", "t1", "f2", "n"), ("s", "t2", "f3", "n")],
        "source string, page_token string, file_id string, name string",
    )
    got = {r.file_id
           for r in drive_file_list(boundary, bfiles, max_pages=2).collect()}
    assert got == {"f1", "f2", "f3"}


def test_robots_rules_parser_group_selection(spark):
    """robots.txt body parser: multi-agent groups, case-insensitive
    directives, comments, and group selection for the requested UA."""
    from gleaner_spark.operators.robots import robots_rules

    body = (
        "# top comment\n"
        "User-agent: ABot\n"
        "User-agent: *\n"          # multi-agent group: applies to *
        "Disallow: /a\n"
        "ALLOW: /a/ok\n"
        "\n"
        "User-agent: BBot\n"
        "Disallow: /b-only\n"      # different group: must NOT apply
        "\n"
        "user-agent: *\n"          # second * group: also applies
        "Disallow: /c # inline\n"
    )
    robots = spark.createDataFrame([("h", body)], "host string, body string")
    got = {(r.path_pattern, r.allow) for r in robots_rules(robots).collect()}
    assert got == {("/a", False), ("/a/ok", True), ("/c", False)}


def test_lsh_params_threshold_driven_band_selection():
    """The band structure derives from the target Jaccard threshold
    (S-curve fp+fn area minimization), uses every paid-for hash
    (b*r == k), and is monotone: higher thresholds -> more rows per
    band (sharper curve)."""
    from gleaner_spark.functions.minhash import lsh_params

    assert lsh_params(0.7, 16) == (4, 4)   # the registry query's setting
    assert lsh_params(0.3, 16) == (8, 2)
    assert lsh_params(0.9, 16) == (1, 16)
    prev_r = 0
    for t in (0.2, 0.4, 0.6, 0.8, 0.95):
        b, r = lsh_params(t, 16)
        assert b * r == 16
        assert r >= prev_r
        prev_r = r
    with pytest.raises(ValueError):
        lsh_params(0.0)
    with pytest.raises(ValueError):
        lsh_params(1.0)


def test_lsh_registry_constants_in_lockstep():
    """queries.py derives LSH_BANDS/LSH_BAND from LSH_THRESHOLD — the
    Spark plan and the DuckDB oracle text are both built from these, so
    they cannot drift apart."""
    from gleaner_spark.plans import queries as q

    assert (q.LSH_BANDS, q.LSH_BAND) == (4, 4)
    assert q.LSH_BANDS * q.LSH_BAND == q.NUM_MINHASH
    assert f"generate_series(0, {q.LSH_BANDS - 1})" in q.O_DEDUP_MINHASH
