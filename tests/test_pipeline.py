"""End-to-end DataFrame pipeline tests on the deterministic synthetic
corpus (FIXTURES.md §1): triple P/R vs the pure-Python per-document
oracle, dedup, stats, resume, and entity-linking gold clusters.
"""

import json

import pytest
from pyspark.sql import functions as F

from gleaner_spark.core import extract as core_extract
from gleaner_spark.core import ids as core_ids
from gleaner_spark.core import mill as core_mill
from gleaner_spark.core import structured as core_structured
from gleaner_spark.core.contextfix import fix_all
from gleaner_spark.operators.link import (
    connected_components,
    entity_mentions,
    lsh_candidate_pairs,
)
from gleaner_spark.operators.stages import (
    dedup_docs,
    extract_stage,
    mill_stage,
    normalize_stage,
    with_source,
)
from gleaner_spark.plans.pipeline import PipelineConfig, run_pipeline
from gleaner_spark.sources.pages import (
    ORG_CLUSTERS,
    gen_pages_pandas,
    gen_pages_spark,
    gen_sources_spark,
    page_row,
    sources_rows,
)

N_PAGES = 120


def expected_docs_and_triples(n: int):
    """Pure-Python oracle: the same per-document contract the pandas UDFs
    wrap, driven directly — validates the Spark plumbing (explode, joins,
    dedup) preserves per-document semantics end-to-end."""
    host_cfg = {r["domain"]: r for r in sources_rows() if r["active"]}
    docs: dict[str, dict] = {}
    structured: set[tuple[str, str, str]] = set()
    for i in range(n):
        row = page_row(i)
        html = row["html"].decode("utf-8")
        # beyond-reference surface: microdata/RDFa footer triples
        # (skolemized, same pure contract structured_stage wraps)
        for (s, p, o, _x) in core_structured.page_structured(html)[1]:
            structured.add((s, p, o))
        blocks = core_extract.extract_jsonld_strings(html, row["url"])
        if not blocks:
            # mirror extract_stage's js-inline recovery for
            # zero-static-block pages (via='js_inline')
            blocks = core_extract.find_inline_jsonld(html)
        host = row["url"].split("/")[2]
        cfg = host_cfg.get(host, {})
        for b in blocks:
            try:
                fixed = fix_all(b, cfg.get("fixcontextoption", "https"))
                ident = core_ids.generate_identifier(
                    fixed,
                    cfg.get("identifiertype", "jsonsha"),
                    cfg.get("identifierpath", ""),
                )
                if ident.error:
                    continue
            except Exception:
                continue
            key = ident.unique_id
            if key not in docs or (row["url"], blocks.index(b)) < docs[key]["pos"]:
                docs[key] = {
                    "fixed": fixed, "sha": ident.unique_id,
                    "pos": (row["url"], blocks.index(b)),
                }
    triples = set()
    for d in docs.values():
        for q in core_mill.mill(d["fixed"], d["sha"], ""):
            triples.add((q.subject, q.predicate, q.object))
    triples |= structured
    return docs, triples


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipeline"))
    pages = gen_pages_spark(spark, N_PAGES, 8)
    src = gen_sources_spark(spark)
    cfg = PipelineConfig(output_dir=out, run_id="t-run", link_entities=False)
    result = run_pipeline(spark, pages, src, cfg)
    return result, out, src


def test_pages_deterministic_across_partitionings(spark):
    a = gen_pages_spark(spark, 50, 2).orderBy("url").collect()
    b = gen_pages_spark(spark, 50, 13).orderBy("url").collect()
    assert a == b
    pdf = gen_pages_pandas(50).sort_values("url").reset_index(drop=True)
    assert [r.url for r in a] == list(pdf.url)
    assert [bytes(r.html) for r in a] == [bytes(h) for h in pdf.html]


def test_extraction_byte_identity(spark):
    """BASELINE.json invariant: per-url extracted text is byte-identical
    to the pure contract (which the reference goldens pin)."""
    pages = gen_pages_spark(spark, 60, 4)
    blocks = extract_stage(with_source(pages, None))
    got = {
        (r.url, r.block_idx): r.jsonld
        for r in blocks.filter("block_idx >= 0").collect()
    }
    for i in range(60):
        row = page_row(i)
        expected = core_extract.extract_jsonld_strings(
            row["html"].decode("utf-8"), row["url"]
        )
        for j, b in enumerate(expected):
            assert got[(row["url"], j)] == b, (i, j)
    assert len(got) == sum(
        len(core_extract.extract_jsonld_strings(
            page_row(i)["html"].decode("utf-8"), page_row(i)["url"]))
        for i in range(60)
    )


def test_triple_pr_vs_pure_python_oracle(corpus):
    result, _, _ = corpus
    got = {
        (r.subject, r.predicate, r.object)
        for r in result.triples.filter("source != '_org'").collect()
        if not r.graph.endswith(":org")
    }
    _, expected = expected_docs_and_triples(N_PAGES)
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    # with identical semantics the match should actually be exact
    assert precision == 1.0 and recall == 1.0


def test_org_triples_match_core_mill(spark):
    """The ``:org`` graphs the oracle test above skips: per source, the
    org doc goes through the per-document contract (fix + identify +
    mill) exactly like a harvested doc, skolemized with its doc_sha1."""
    from gleaner_spark.core.process import process_document
    from gleaner_spark.operators.provenance import org_jsonld, org_triples

    src = gen_sources_spark(spark)
    org_docs = {r.source: r.jsonld for r in org_jsonld(src).collect()}
    got: dict[str, list] = {}
    for r in org_triples(src).collect():
        got.setdefault(r.source, []).append(
            (r.subject, r.predicate, r.object, r.graph))
    active = [r["name"] for r in sources_rows() if r["active"]]
    assert active
    for source in active:
        p = process_document(org_docs[source])
        assert p.valid, p.error
        expected = [
            tuple(q) for q in core_mill.mill(
                p.jsonld_fixed, p.doc_sha1, f"urn:gleaner:{source}:org")
        ]
        assert expected
        assert sorted(got[source]) == sorted(expected), source


def test_dedup_by_content_sha(corpus):
    result, _, _ = corpus
    docs = result.docs
    assert docs.count() == docs.select("doc_sha1").distinct().count()
    # dup row-class pages re-embed an earlier doc → fewer docs than blocks
    n_valid_blocks = result.blocks.filter("block_idx >= 0").count()
    assert docs.count() < n_valid_blocks


def test_invalid_json_filtered(corpus):
    result, _, _ = corpus
    # 5% of pages carry an unterminated JSON block (isValid parity)
    assert result.docs.filter(~F.col("valid")).count() == 0
    assert result.stats.agg(F.sum("issues")).first()[0] >= 1


def test_nill_pages_recorded(spark, corpus):
    _, out, _ = corpus
    manifest = spark.read.parquet(f"{out}/manifest")
    nill = manifest.filter("stage = 'extract' AND status = 'NILL'").count()
    assert nill > 0  # 10% no-jsonld pages record the visit (NILL sentinel)


def test_graph_urn_shape(corpus):
    result, _, _ = corpus
    r = result.triples.filter("source = 'src00'").first()
    assert r.graph.startswith("urn:gleaner:src00:")
    assert len(r.graph.split(":")[-1]) == 64  # sha256 hex


def test_structured_stage_in_pipeline(corpus):
    """Microdata/RDFa footer triples land in the final relation under
    ``urn:{bucket}:{source}:sd:{sha}`` graphs, blank nodes skolemized
    per content sha, exactly matching the pure contract
    (core/structured.page_structured) per page."""
    result, _, _ = corpus
    sd = result.triples.filter(F.col("graph").rlike("^urn:gleaner:[^:]+:sd:"))
    rows = sd.collect()
    assert rows, "structured footer pages must contribute triples"
    got = {(r.subject, r.predicate, r.object) for r in rows}
    expected = set()
    for i in range(N_PAGES):
        row = page_row(i)
        for (s, p, o, _x) in core_structured.page_structured(
                row["html"].decode("utf-8"))[1]:
            expected.add((s, p, o))
    assert got == expected
    # graph key is the page content sha; blank labels carry it (mill's
    # _:b{sha}_ convention) so cross-page collisions are impossible
    for r in rows:
        sha = r.graph.split(":")[-1]
        assert len(sha) == 64
        for t in (r.subject, r.object):
            if t.startswith("_:"):
                assert t.startswith(f"_:b{sha}_"), (t, sha)


def test_strict_source_bypasses_fixups(corpus):
    """src18 is fixcontextoption=strict: its string-context docs keep the
    unfixed context → properties drop (no vocab), so src18 contributes
    far fewer schema.org triples per doc."""
    result, _, _ = corpus
    docs = result.docs
    strict_docs = docs.filter("source = 'src18' AND valid").collect()
    for d in strict_docs:
        assert d.jsonld == d.jsonld_fixed  # untouched by fix stage


def test_stats_totals(corpus):
    result, _, _ = corpus
    totals = result.stats.agg(
        F.sum("count").alias("count"), F.sum("summoned").alias("summoned")
    ).first()
    assert totals["count"] == N_PAGES
    assert totals.summoned > 0


def test_headless_gap_measured(corpus):
    """S5 coverage gap is measured, not silent: every synthetic no-JSON-LD
    page carries the commented-out ld+json decoy, so each empty_doc page
    is also a headless candidate in this corpus."""
    result, _, _ = corpus
    tot = result.stats.agg(
        F.sum("headless_candidates").alias("hc"),
        F.sum("empty_doc").alias("ed"),
        F.sum("headless_recovered").alias("hr"),
    ).first()
    assert tot.hc > 0
    assert tot.hc == tot.ed
    # the statically-recoverable JS-inline sub-population (pages.py
    # row_class 'none', i%3==1) is recovered — the candidates that
    # remain are exactly the computed-JS pages a browser would need
    assert tot.hr > 0


def test_per_partition_lineage_written(spark, corpus):
    _, out, _ = corpus
    lineage = spark.read.parquet(f"{out}/lineage")
    stages = {r.stage for r in lineage.select("stage").distinct().collect()}
    assert {"extract", "normalize", "materialize"} <= stages
    assert lineage.filter("rows < 0").count() == 0


def test_prov_rows(spark, corpus):
    _, out, _ = corpus
    prov = spark.read.parquet(f"{out}/prov")
    r = prov.first()
    doc = json.loads(r.prov_jsonld)
    g = doc["@graph"]
    assert [n["@type"] for n in g] == [
        "prov:Organization", "prov:Entity", "prov:Collection",
        "prov:Entity", "prov:Activity",
    ]
    assert g[3]["@id"].startswith("urn:gleaner:")
    assert g[4]["prov:endedAtTime"]["@value"] == "t-run"
    assert g[4]["prov:generated"]["@id"] == g[3]["@id"] == r.graph_urn
    assert len(r.prov_sha) == 40

    # org enrichment (prov.go:83-91): known sources carry dim fields,
    # unknown sources fall back to "unknown"
    dim = {row["name"]: row for row in sources_rows() if row["active"]}
    rows = prov.select("source", "pid", "propername", "domain").collect()
    assert rows
    for row in rows:
        if row.source in dim:
            assert row.pid == dim[row.source]["pid"]
            assert row.propername == dim[row.source]["propername"]
            assert row.domain == dim[row.source]["domain"]
        else:
            assert row.pid == "unknown"


def test_resume_skips_completed_urls(spark, tmp_path):
    out = str(tmp_path / "resume")
    src = gen_sources_spark(spark)
    first = gen_pages_spark(spark, 40, 4)
    cfg = PipelineConfig(output_dir=out, run_id="r1", link_entities=False)
    run_pipeline(spark, first, src, cfg)

    # second run over a superset: only the 20 new urls flow through
    superset = gen_pages_spark(spark, 60, 4)
    cfg2 = PipelineConfig(output_dir=out, run_id="r2", mode="diff",
                          link_entities=False)
    result = run_pipeline(spark, superset, src, cfg2)
    assert result.resumed_urls_skipped == 40
    assert result.blocks.select("url").distinct().count() == 20


def test_read_manifest_missing_is_full_mode_corrupt_raises(spark, tmp_path):
    """No manifest yet → None (full mode); a manifest that exists but
    cannot be read must raise, not silently become a full re-run."""
    from gleaner_spark.operators.manifest import read_manifest

    assert read_manifest(spark, str(tmp_path / "fresh")) is None
    bad = tmp_path / "corrupt" / "manifest"
    for part in ("stage=extract", "other=x/y=1"):  # conflicting layouts
        (bad / part).mkdir(parents=True)
        (bad / part / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="CONFLICTING_PARTITION_COLUMN_NAMES"):
        read_manifest(spark, str(tmp_path / "corrupt"))


def test_diff_prior_docs_missing_is_full_mode_corrupt_raises(spark, tmp_path):
    """Diff mode's cross-run dedup reads the earlier runs' docs table:
    absent (first run) → every doc is kept; present but unreadable →
    the run fails instead of silently skipping the dedup."""
    src = gen_sources_spark(spark)
    pages = gen_pages_spark(spark, 12, 2)

    def run(out):
        return run_pipeline(spark, pages, src, PipelineConfig(
            output_dir=str(out), run_id="d1", mode="diff",
            link_entities=False))

    full = run_pipeline(spark, pages, src, PipelineConfig(
        output_dir=str(tmp_path / "full"), run_id="f1",
        link_entities=False))
    assert run(tmp_path / "fresh").docs.count() == full.docs.count() > 0

    (tmp_path / "corrupt" / "docs").mkdir(parents=True)
    (tmp_path / "corrupt" / "docs" / "part-0.parquet").write_bytes(
        b"not parquet")
    with pytest.raises(Exception, match="not a Parquet file"):
        run(tmp_path / "corrupt")


def test_connected_components_shapes(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),      # chain
         ("x", "y"), ("x", "z"),                  # star
         ("m", "n")],                             # pair
        "a string, b string",
    )
    comp = {r.entity: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["x"] == comp["y"] == comp["z"] == "x"
    assert comp["m"] == comp["n"] == "m"


def _force_distributed_cc(monkeypatch):
    from gleaner_spark.operators import link

    monkeypatch.setattr(link, "LOCAL_CC_MAX_EDGES", 0)


def test_connected_components_long_chain(spark, monkeypatch):
    """An 80-node chain (diameter 79) — O(diameter) min-label
    propagation capped at 20 iterations returned WRONG labels for this
    graph (round-1 VERDICT #4); large-star/small-star needs O(log² n)
    rounds, and non-convergence must raise rather than mislabel."""
    _force_distributed_cc(monkeypatch)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(79)], "a long, b long"
    )
    comp = {r.entity: r.component
            for r in connected_components(edges).collect()}
    assert len(comp) == 80
    assert set(comp.values()) == {0}


def test_connected_components_raises_on_iteration_cap(spark, monkeypatch):
    from gleaner_spark.operators import link

    _force_distributed_cc(monkeypatch)
    monkeypatch.setattr(link, "MAX_CC_ITERATIONS", 1)
    edges = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "a long, b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges)


#: ``LOCAL_LINK_MAX`` on both sides of the linker's driver-local gate
LINK_GATE = pytest.mark.parametrize(
    "local_link_max", [None, 0], ids=["local", "distributed"])


def _set_link_gate(monkeypatch, local_link_max):
    from gleaner_spark.operators import link

    if local_link_max is not None:
        monkeypatch.setattr(link, "LOCAL_LINK_MAX", local_link_max)


def _org_triples(spark, entities):
    """Organization-typed (entity, name) mentions as a triples frame."""
    t = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    nm = "<https://schema.org/name>"
    org = "<https://schema.org/Organization>"
    rows = []
    for e, name in entities:
        rows.append((e, t, org, "g"))
        rows.append((e, nm, f'"{name}"', "g"))
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string, graph string"
    )


@LINK_GATE
def test_entity_linking_gold_clusters(spark, monkeypatch, local_link_max):
    from gleaner_spark.operators.link import sameas_map

    _set_link_gate(monkeypatch, local_link_max)
    pages = gen_pages_spark(spark, 150, 8)
    src = gen_sources_spark(spark)
    triples = mill_stage(
        dedup_docs(normalize_stage(extract_stage(with_source(pages, src))))
    ).localCheckpoint(eager=True)
    mentions = entity_mentions(triples).localCheckpoint(eager=True)
    canon = sameas_map(triples)
    named = (
        mentions.join(canon, "entity", "left")
        .select("name", F.coalesce("canonical", "entity").alias("component"))
        .groupBy("component")
        .agg(F.collect_set("name").alias("names"))
        .collect()
    )
    gold = [set(c) for c in ORG_CLUSTERS]
    got = [set(r.names) for r in named if len(r.names) > 1]
    # every recovered multi-name cluster must be a subset of one gold
    # cluster (precision) and every gold cluster fully recovered (recall)
    for g in got:
        assert any(g <= gc for gc in gold), g
    for gc in gold:
        present = {n for r in named for n in r.names if n in gc}
        if len(present) > 1:
            assert any(g == present for g in got), gc


def _reference_linker_pairs(entities, band_size=2, max_bucket=64,
                            threshold=0.7):
    """Pure-Python lsh_candidate_pairs: md5 rotation MinHash, 8 bands
    of 2, bucket cap, digit-token agreement, exact char-3-gram Jaccard."""
    import re

    from gleaner_spark.core.text import md5_minhash_signature

    names = {}
    for e, n in entities:
        names[e] = min(names.get(e, n), n)
    ent = {}
    for e, n in names.items():
        norm = re.sub(r"[^a-z0-9]+", " ", n.lower()).strip(" ")
        sh = {norm[i:i + 3] for i in range(max(len(norm) - 2, 1))}
        digits = sorted(t for t in norm.split(" ") if t.isdigit())
        ent[e] = (sh, digits)
    buckets = {}
    for e, (sh, _) in sorted(ent.items()):
        sig = md5_minhash_signature(sorted(sh), 16)
        for b in range(16 // band_size):
            key = (b, tuple(sig[b * band_size:(b + 1) * band_size]))
            buckets.setdefault(key, []).append(e)
    cands = {
        tuple(sorted((m[i], m[j])))
        for m in buckets.values() if len(m) <= max_bucket
        for i in range(len(m)) for j in range(i + 1, len(m))
    }
    want = {}
    for a, b in cands:
        (sa, da), (sb, db) = ent[a], ent[b]
        jac = len(sa & sb) / len(sa | sb)
        if da == db and jac >= threshold:
            want[(a, b)] = jac
    return want


_FIXTURE_NAMES = [
    "Ocean Data Lab", "Ocean Data Labs", "The Ocean Data Lab",
    "Ocean-Data Lab, Inc.", "Marine Survey 01", "Marine Survey 02",
    "Marine Survey 01 ", "Institute of Marine Research",
    "Institute for Marine Research", "Marine Research Institute",
    "US Geological Survey", "U.S. Geological Survey",
    "Geological Survey", "ab", "abc", "Polar Data Centre",
    "Polar Data Center", "National Polar Data Centre",
]
#: (entity, name) linker fixture: near-variant clusters, digit-token
#: decoys, a 70-member identical-name bucket and a two-name entity
LINKER_FIXTURE = (
    [(f"<https://x.org/e{i:03d}>", n) for i, n in enumerate(_FIXTURE_NAMES)]
    + [(f"<https://x.org/h{i:03d}>", "Acme Holdings") for i in range(70)]
    + [("<https://x.org/e000>", "Zulu Ocean Data Lab")]
)


@pytest.mark.parametrize("rank_dict_max", [None, 0], ids=["rank", "fallback"])
def test_lsh_candidate_pairs_match_python_reference(spark, monkeypatch,
                                                    rank_dict_max):
    """The linker's candidate pairs on both sides of the RANK_DICT_MAX
    gate equal the pure-Python reference — near-variants pair, digit
    tokens split look-alikes, a 70-member identical-name bucket is
    capped away, and multi-name entities use their min name."""
    from gleaner_spark.functions import minhash

    if rank_dict_max is not None:
        monkeypatch.setattr(minhash, "RANK_DICT_MAX", rank_dict_max)
    df = spark.createDataFrame(LINKER_FIXTURE, "entity string, name string")
    got = {(r.a, r.b): r.jaccard
           for r in lsh_candidate_pairs(df).collect()}
    want = _reference_linker_pairs(LINKER_FIXTURE)
    assert got == want
    assert ("<https://x.org/e000>", "<https://x.org/e001>") in want
    assert ("<https://x.org/e004>", "<https://x.org/e005>") not in want
    assert not any(a.startswith("<https://x.org/h") for a, _ in want)


def test_sameas_map_local_matches_distributed(spark, monkeypatch):
    """The driver-local sameAs map equals the distributed one row for
    row on the LSH reference fixture: near-variant clusters, digit-token
    decoys, the 70-member identical-name group and a multi-name entity
    (e000, also the min of its cluster under its second name)."""
    from gleaner_spark.operators import link

    triples = _org_triples(spark, LINKER_FIXTURE)
    got = {}
    for side, local_link_max in (("local", link.LOCAL_LINK_MAX),
                                 ("distributed", 0)):
        monkeypatch.setattr(link, "LOCAL_LINK_MAX", local_link_max)
        got[side] = sorted(map(tuple, link.sameas_map(triples).collect()))
    assert got["local"] == got["distributed"]
    canon = dict(got["local"])
    assert canon["<https://x.org/e001>"] == "<https://x.org/e000>"
    assert canon["<https://x.org/h069>"] == "<https://x.org/h000>"
    assert "<https://x.org/e005>" not in canon  # Marine Survey 02


@LINK_GATE
def test_sameas_map_links_groups_sharing_an_entity(spark, monkeypatch,
                                                   local_link_max):
    """One entity carrying two names whose 3-gram Jaccard is below the
    threshold (0.667 < 0.7): the two exact-name groups have different
    representatives and LSH adds no edge, but the shared entity joins
    them — on both sides of the driver-local gate every mention of
    either name gets one canonical, and the map has one row per
    entity.  A third, unrelated name stays out."""
    from gleaner_spark.operators.link import sameas_map

    _set_link_gate(monkeypatch, local_link_max)
    both = "<https://site01.example.org/org/g2>"
    a, b = "Polar Science Centre", "The Polar Science Center"
    assert _reference_linker_pairs([("x", a), ("y", b)]) == {}
    triples = _org_triples(spark, [
        ("<https://site00.example.org/org/p0>", b),
        (both, a), (both, b),
        ("<https://site02.example.org/org/p2>", a),
        ("<https://site03.example.org/org/p3>", "River Basin Observatory"),
    ])
    got = sorted(map(tuple, sameas_map(triples).collect()))
    assert got == [
        (both, "<https://site00.example.org/org/p0>"),
        ("<https://site02.example.org/org/p2>",
         "<https://site00.example.org/org/p0>"),
    ]


@LINK_GATE
def test_sameas_map_logs_bucket_cap(spark, monkeypatch, caplog,
                                    local_link_max):
    """70 distinct names with one shingle set ({hah, aha, ...}) share
    every band bucket: the cap drops all 8 buckets and says so on both
    sides of the driver-local gate, while two near-variants still link.
    With only the 70 no bucket survives: both sides return an empty map
    and still warn (the distributed side has no counts then)."""
    import logging

    from gleaner_spark.operators.link import sameas_map

    _set_link_gate(monkeypatch, local_link_max)
    hot = [(f"<https://x.org/q{i:03d}>", "Ha" + "ha" * i + " Holdings")
           for i in range(1, 71)]
    ocean = [("<https://x.org/o1>", "Ocean Data Lab"),
             ("<https://x.org/o2>", "Ocean Data Labs")]
    with caplog.at_level(logging.WARNING,
                         logger="gleaner_spark.operators.link"):
        got = sameas_map(_org_triples(spark, hot + ocean)).collect()
    assert [tuple(r) for r in got] == [(ocean[1][0], ocean[0][0])]
    assert any("LSH bucket cap dropped 8 of" in r.getMessage()
               for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING,
                         logger="gleaner_spark.operators.link"):
        assert sameas_map(_org_triples(spark, hot)).collect() == []
    assert any("LSH bucket" in r.getMessage() for r in caplog.records)


def test_sitegraph_ingestion_big_doc_bounded(spark):
    """S6: a multi-MB blank-node-rich sitegraph flows through
    normalize→mill in bounded time with the filesha identifier (the
    reference's 'Don't normalize big files', sitegraph.go:50)."""
    import hashlib
    import json
    import time

    from gleaner_spark.sources.sitegraph import sitegraph_blocks

    body = json.dumps({
        "@context": {"@vocab": "https://schema.org/"},
        "@id": "https://geo.example.org/sitegraph",
        "@graph": [
            {"@id": f"https://geo.example.org/ds/{i}",
             "@type": "Dataset",
             "name": f"DS {i}",
             "creator": {"name": f"Org {i % 7}",
                         "description": "p" * 2048}}
            for i in range(1500)
        ],
    })
    assert len(body) > 2 * 1024 * 1024
    sg = spark.createDataFrame(
        [("geo", "https://geo.example.org/sitegraph.jsonld", body)],
        "source string, url string, body string",
    )
    t0 = time.time()
    docs = normalize_stage(sitegraph_blocks(sg)).filter(F.col("valid"))
    row = docs.select("doc_sha1", "id_type", "norm_sha256").collect()[0]
    triples = mill_stage(docs)
    n = triples.count()
    assert time.time() - t0 < 120.0
    # filesha fallback: doc_sha1 is sha1 of the (fixed) doc bytes
    assert row.id_type == "jsonsha"
    assert n >= 1500 * 3  # type + name + creator per dataset
    # skolemized bnodes are derived from the doc sha → deterministic
    sha = row.doc_sha1
    assert triples.filter(
        F.col("object").startswith(f"_:b{sha}")
    ).count() == 1500


def test_sources_from_csv_reference_semantics(spark, tmp_path):
    """CSV sources loader parity (sources.go:120-167): header-named
    columns, ParseBool lexicon, sitemap default, URL trim, and the
    host-normalized join key feeding with_source."""
    from gleaner_spark.sources.csvconf import sources_from_csv

    csv = tmp_path / "sources.csv"
    csv.write_text(
        "hack,SourceType,Active,Name,ProperName,URL,Headless,Domain,PID,Logo\n"
        '1,sitegraph,FALSE,aqua,Aqua Docs,"https://oih.example.org/aqua.json ",'
        "FALSE,https://aqua.example.org,http://hdl.example/41372,\n"
        "3,,TRUE,topo,Topo,https://topo.example.org/sitemap.xml,false,"
        "http://www.topo.example.org/path,https://r3d.example/r1,logo.png\n"
        "4,sitemap,1,geo,Geo,https://geo.example.org/sitemap.xml,T,"
        "geo.example.org,,\n"
    )
    dim = sources_from_csv(spark, str(csv))
    rows = {r.name: r for r in dim.collect()}
    assert set(rows) == {"aqua", "topo", "geo"}
    # URL trailing space trimmed (sources.go:124)
    assert rows["aqua"].url == "https://oih.example.org/aqua.json"
    # empty SourceType -> sitemap default
    assert rows["topo"].sourcetype == "sitemap"
    assert rows["aqua"].sourcetype == "sitegraph"
    # ParseBool lexicon: FALSE/false/1/T
    assert rows["aqua"].active is False
    assert rows["topo"].active is True
    assert rows["geo"].active is True and rows["geo"].headless is True
    # missing optional columns default to '' (resolve downstream)
    assert rows["geo"].identifiertype == "" and rows["geo"].fixcontextoption == ""
    # domain normalized to the bare join host
    assert rows["aqua"].domain == "aqua.example.org"
    assert rows["topo"].domain == "www.topo.example.org"
    assert rows["geo"].domain == "geo.example.org"

    # feeds with_source directly: inactive sources filtered (P9), match
    # by host, defaults coalesce
    from gleaner_spark.operators.stages import with_source

    pages = spark.createDataFrame(
        [("https://geo.example.org/doc/1",),
         ("https://aqua.example.org/aqua.json",)],
        "url string",
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(bytearray(b"<html></html>")).alias("html"),
        F.lit("t").alias("text"), F.lit("en").alias("lang"),
    )
    joined = {r.url: r for r in with_source(pages, dim).collect()}
    assert joined["https://geo.example.org/doc/1"].source == "geo"
    # inactive aqua does not match -> falls back to host-as-source
    assert joined["https://aqua.example.org/aqua.json"].source == "aqua.example.org"


def test_iceberg_branch_selection(spark, tmp_path, monkeypatch):
    """VERDICT r3 #7: the Iceberg write path is code, not comments —
    with no catalog configured the sandbox falls back to parquet; with
    a spark.sql.catalog.<name> Iceberg conf present, _write routes to
    the DataFrameWriterV2 path (stubbed here: the Iceberg jar isn't in
    the container)."""
    from gleaner_spark.plans import pipeline as pl

    # 1. plain session → no catalog → parquet fallback actually writes
    assert pl.iceberg_catalog(spark) is None
    df = spark.range(3).selectExpr("id", "id % 2 as p")
    pl._write(df, str(tmp_path), "t1")
    assert spark.read.parquet(str(tmp_path / "t1")).count() == 3

    # 2. Iceberg catalog conf present → detected, default namespace
    key = "spark.sql.catalog.demo"
    spark.conf.set(key, "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert pl.iceberg_catalog(spark) == ("demo", "gleaner")
        spark.conf.set("spark.gleaner.iceberg.namespace", "kg")
        assert pl.iceberg_catalog(spark) == ("demo", "kg")

        # 3. _write dispatches to the iceberg path (recorded via stub)
        calls = []
        monkeypatch.setattr(
            pl, "_write_iceberg",
            lambda df, cat, name, pb, mode:
                calls.append((cat, name, pb, mode)) or f"{cat[0]}.x.{name}",
        )
        pl._write(df, str(tmp_path), "t2", ["p"], "append")
        assert calls == [(("demo", "kg"), "t2", ["p"], "append")]
        assert not (tmp_path / "t2").exists()  # no parquet side-write
    finally:
        spark.conf.unset(key)
        spark.conf.unset("spark.gleaner.iceberg.namespace")
    assert pl.iceberg_catalog(spark) is None


@LINK_GATE
def test_entity_linking_labeled_precision_recall(spark, monkeypatch,
                                                 local_link_max):
    """VERDICT r3 #9: end-to-end sameas_map P/R on a LABELED corpus —
    gold clusters of name variants (case / punctuation / 'Inc' suffix)
    plus digit-token near-collision decoys ('Survey Station 01' vs
    '... 02') that must never merge.  Pair-level precision and recall
    must both clear the north-rule 0.95 bar."""
    import itertools

    from gleaner_spark.operators.link import sameas_map

    _set_link_gate(monkeypatch, local_link_max)
    bases = [
        "Ocean Data Consortium", "Polar Ice Monitoring Group",
        "Global Geo Survey Alliance", "River Basin Observatory",
        "Alpine Climate Archive", "Coastal Sediment Network",
        "Desert Soils Laboratory", "Tropical Forest Registry",
    ]
    mentions = []  # (gold_cluster, entity, display_name)
    for c, base in enumerate(bases):
        aliases = [base, base.upper(), base.replace(" ", "-"),
                   base + " Inc"]
        for j, alias in enumerate(aliases):
            mentions.append((f"g{c}", f"<https://ex.org/e/{c}/{j}>", alias))
    for k in range(1, 11):  # decoys: identical prose, distinct digits
        for j in range(2):
            mentions.append((
                f"dec{k}", f"<https://ex.org/d/{k}/{j}>",
                f"Survey Station {k:02d}",
            ))

    triples = _org_triples(spark, [(e, name) for _, e, name in mentions])
    canon = {r.entity: r.canonical for r in sameas_map(triples).collect()}
    predicted: dict[str, list[str]] = {}
    gold: dict[str, list[str]] = {}
    for g, e, _ in mentions:
        predicted.setdefault(canon.get(e, e), []).append(e)
        gold.setdefault(g, []).append(e)

    def pairs(clusters):
        return {
            frozenset(p)
            for members in clusters.values()
            for p in itertools.combinations(sorted(members), 2)
        }

    got, want = pairs(predicted), pairs(gold)
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    assert precision >= 0.95, f"precision {precision}: extra {got - want}"
    assert recall >= 0.95, f"recall {recall}: missed {want - got}"


def test_async_writes_join_raises_and_abort_swallows(spark, caplog):
    """_AsyncWrites contract: join() re-raises the first queued-write
    failure (nothing fails silently); abort() — the pipeline failure
    path — drains without raising and logs the write error instead of
    masking the original stage exception."""
    import logging

    from gleaner_spark.plans.pipeline import _AsyncWrites

    aw = _AsyncWrites(spark)
    order = []
    aw.submit(lambda: order.append("a"))
    aw.submit(lambda: (_ for _ in ()).throw(RuntimeError("manifest boom")))
    with pytest.raises(RuntimeError, match="manifest boom"):
        aw.join()
    assert order == ["a"]  # ordered single worker ran the first write

    aw2 = _AsyncWrites(spark)
    aw2.submit(lambda: (_ for _ in ()).throw(RuntimeError("lineage boom")))
    with caplog.at_level(logging.WARNING,
                         logger="gleaner_spark.plans.pipeline"):
        aw2.abort()  # must not raise
    assert any("lineage boom" in r.message for r in caplog.records)


def test_bookkeeping_jobs_keep_caller_job_group(spark, tmp_path,
                                               monkeypatch):
    """Bookkeeping writes run on the _AsyncWrites thread, whose pinned
    JVM thread starts with no local properties: every job they start
    must still carry the caller's job group, so ``cancelJobGroup``
    reaches them and no job of the run lands in group None."""
    from gleaner_spark.plans import pipeline

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = []
    real_prov = pipeline.prov_lineage

    def prov_spy(*args, **kwargs):  # runs on the bookkeeping thread
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))
        return real_prov(*args, **kwargs)

    monkeypatch.setattr(pipeline, "prov_lineage", prov_spy)
    before_none = set(tracker.getJobIdsForGroup(None))
    before_g = set(tracker.getJobIdsForGroup("g"))
    sc.setJobGroup("g", "job-group inheritance test")
    try:
        run_pipeline(spark, gen_pages_spark(spark, 12, 2),
                     gen_sources_spark(spark),
                     PipelineConfig(output_dir=str(tmp_path / "out"),
                                    run_id="jg", link_entities=False))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert seen == ["g"]
    assert set(tracker.getJobIdsForGroup(None)) - before_none == set()
    assert set(tracker.getJobIdsForGroup("g")) - before_g


def test_stage_failure_after_bookkeeping_queued(spark, tmp_path,
                                                monkeypatch):
    """A stage that fails after stats and prov are queued: run_pipeline
    re-raises that exact error, and the bookkeeping thread is gone."""
    import threading

    from gleaner_spark.plans import pipeline

    queued = []
    real_submit = pipeline._AsyncWrites.submit

    def submit_spy(self, fn):
        queued.append(fn.__name__)
        real_submit(self, fn)

    boom = RuntimeError("link boom")

    def failing_link(triples):
        assert queued == ["_extract_bookkeeping", "_stats_bookkeeping",
                          "_docs_bookkeeping"]
        raise boom

    monkeypatch.setattr(pipeline._AsyncWrites, "submit", submit_spy)
    monkeypatch.setattr(pipeline, "link_stage", failing_link)
    with pytest.raises(RuntimeError) as info:
        run_pipeline(spark, gen_pages_spark(spark, 12, 2),
                     gen_sources_spark(spark),
                     PipelineConfig(output_dir=str(tmp_path / "out"),
                                    run_id="fail"))
    assert info.value is boom
    assert not [t for t in threading.enumerate()
                if t.name.startswith("gleaner-bookkeeping")]


def test_iceberg_writer_keeps_partition_spec_on_replace():
    """ADVICE r4 (medium): the createOrReplace branch must carry the
    partition spec exactly like the create branch — otherwise the second
    overwrite-mode run replaces a partitioned table with an unpartitioned
    one and later overwrite_partitions calls degrade to whole-table
    overwrites.  Recorded through a fake DataFrameWriterV2 (no Iceberg
    jar in the container)."""
    from gleaner_spark.plans import pipeline as pl

    class FakeWriter:
        def __init__(self, log, table):
            self.log, self.table, self.pb = log, table, None

        def partitionedBy(self, *cols):
            self.pb = len(cols)
            return self

        def create(self):
            self.log.append(("create", self.table, self.pb))

        def createOrReplace(self):
            self.log.append(("createOrReplace", self.table, self.pb))

        def append(self):
            self.log.append(("append", self.table, self.pb))

        def overwritePartitions(self):
            self.log.append(("overwritePartitions", self.table, self.pb))

    class FakeSpark:
        def __init__(self, exists):
            self._exists = exists

        @property
        def catalog(self):
            return self

        def tableExists(self, t):
            return self._exists

    class FakeDF:
        def __init__(self, exists, log):
            self.sparkSession, self.log = FakeSpark(exists), log

        def writeTo(self, table):
            return FakeWriter(self.log, table)

    cat = ("demo", "kg")
    # fresh table: create() with the spec
    log = []
    pl._write_iceberg(FakeDF(False, log), cat, "triples", ["source"], "overwrite")
    assert log == [("create", "demo.kg.triples", 1)]
    # existing table, full refresh: createOrReplace() MUST carry the spec
    log = []
    pl._write_iceberg(FakeDF(True, log), cat, "triples", ["source"], "overwrite")
    assert log == [("createOrReplace", "demo.kg.triples", 1)]
    # append / overwrite_partitions write into the existing spec
    for mode in ("append", "overwrite_partitions"):
        log = []
        pl._write_iceberg(FakeDF(True, log), cat, "triples", ["source"], mode)
        assert len(log) == 1 and log[0][0] in (
            "append", "overwritePartitions")


def test_cc_ckpt_every_k_identical_labels(spark, monkeypatch):
    """The distributed rounds, one barrier each, label two chains, a
    star and a self-loop-only vertex with their component minimum."""
    _force_distributed_cc(monkeypatch)
    rows = [(i, i + 1) for i in range(0, 24)] + \
           [(100 + i, 100 + i + 1) for i in range(0, 7)] + \
           [(200, 200 + i) for i in range(1, 9)] + [(999, 999)]
    out = connected_components(
        spark.createDataFrame(rows, "a long, b long"))
    comp = {r.entity: r.component for r in out.collect()}
    assert len(comp) == 25 + 8 + 9 + 1
    # chain→0, chain→100, star→200, self-loop→itself
    assert {comp[i] for i in range(25)} == {0}
    assert {comp[100 + i] for i in range(8)} == {100}
    assert {comp[200 + i] for i in range(9)} == {200}
    assert comp[999] == 999
    assert out._cc_observation["rounds"] >= 1


def test_cc_local_fast_path_matches_distributed(spark, monkeypatch):
    """The size-gated driver-local union-find must return EXACTLY the
    distributed large-star/small-star labels on a random graph (and
    report itself in the observation)."""
    import random

    from gleaner_spark.operators.link import connected_components

    rng = random.Random(41)
    rows = [(rng.randint(0, 300), rng.randint(0, 300)) for _ in range(400)]
    edges = spark.createDataFrame(rows, "a long, b long")
    local = connected_components(edges)
    got_l = sorted((r.entity, r.component) for r in local.collect())
    _force_distributed_cc(monkeypatch)
    dist = connected_components(edges)
    got_d = sorted((r.entity, r.component) for r in dist.collect())
    assert got_l == got_d
    assert local._cc_observation.get("local_solve_edges", 0) > 0
    assert dist._cc_observation["rounds"] > 0
