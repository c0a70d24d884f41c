"""Query registry: every operator from SURVEY.md §2 plus the
training-data-pipeline operators, each as a (spark, sf_dir) → DataFrame
callable with (where SQL-expressible) a DuckDB oracle producing the
identical relation.

Design rule: the Spark side uses only JVM built-ins (higher-order
functions, md5/sha2, regexp) for everything the oracle checks, so the
correctness gate exercises the *same formulas* through two independent
engines.  md5-seeded hashing keeps MinHash/SimHash bit-identical across
Spark SQL, DuckDB and the pure-Python core (core/text.py).

The KG queries (kg_*) drive the real pipeline UDFs (extract → fix →
normalize → mill) over pages *constructed from* the documents table, and
the oracle reconstructs the expected triples / canonical-n-quads sha256
directly in SQL — an independent end-to-end check of the URDNA2015 +
emission path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# ---------------------------------------------------------------------------
# shared formula fragments (single source of truth for Spark + DuckDB)
# ---------------------------------------------------------------------------

STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por", "con", "para"),
    "de": ("der", "die", "das", "und", "nicht", "ein", "mit", "ist", "von", "zu"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour", "que", "qui"),
}

# The LSH band structure is derived from the target Jaccard threshold
# (functions.minhash.lsh_params: minimize S-curve fp+fn area around t),
# not hardcoded — at t=0.7 / k=16 it resolves to 4 bands of 4:
# P(candidate | J) = 1-(1-J⁴)⁴ ≈ 0.98 at J=0.8 but ~4e-4 at J=0.1 —
# low-similarity pairs (the quadratic mass in any big corpus) almost
# never collide, so candidate volume stays linear at scale; 2 bands of
# 2 (the t≈0.35 structure) was measured 425k candidate pairs / 93 s on
# the sf0.1 dup-rich corpus vs ~10k / ~8 s with this setting.
NUM_MINHASH = 16
LSH_THRESHOLD = 0.7
from ..functions.minhash import lsh_params as _lsh_params  # noqa: E402

LSH_BANDS, LSH_BAND = _lsh_params(LSH_THRESHOLD, NUM_MINHASH)


def _norm_sql(col: str, duck: bool) -> str:
    # Spark SQL string literals process backslash escapes ('\s' → 's'!),
    # DuckDB's don't — the regex needs double-escaping only on the Spark
    # side to mean \s+ in both engines.
    if duck:
        return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"
    return f"trim(regexp_replace(lower({col}), '\\\\s+', ' '))"


def _tokens_sql(col: str, duck: bool) -> str:
    norm = _norm_sql(col, duck)
    return f"string_split({norm}, ' ')" if duck else f"split({norm}, ' ')"


def _shingles_sql(col: str, duck: bool) -> str:
    """Distinct word-3-gram shingles, sorted."""
    ws = _tokens_sql(col, duck)
    if duck:
        inner = (
            f"list_transform(generate_series(1, greatest(len({ws}) - 2, 1)),"
            f" i -> array_to_string(({ws})[i:i+2], ' '))"
        )
        return f"list_sort(list_distinct({inner}))"
    inner = (
        f"transform(sequence(1, greatest(size({ws}) - 2, 1)),"
        f" i -> concat_ws(' ', slice({ws}, i, 3)))"
    )
    return f"array_sort(array_distinct({inner}))"


def _minhash_sql(shingles: str, duck: bool, k: int = NUM_MINHASH) -> str:
    """Rotation MinHash (see core/text.py:md5_minhash_signature): hash i
    = md5 hex rotated left 2·i chars, one digest per shingle.  The array
    form is for oracles / small inputs; Spark signatures come from
    ``functions.minhash`` — ``minhash_from_rows`` (exploded rows →
    whole-stage-codegen md5 + substring, then groupBy-min) and, for LSH,
    ``minhash_lsh_pairs``'s int-rank encoding of the same order —
    because per-element expressions inside higher-order functions run
    interpreted: measured ~80 s vs ~3 s at sf0.1 for the identical
    result."""
    if not 1 <= k <= 16:
        raise ValueError(f"rotation MinHash supports 1..16 hashes, got k={k}")
    if duck:
        return (
            f"list_transform(generate_series(0, {k - 1}),"
            f" i -> list_min(list_transform({shingles},"
            f" s -> substring(md5(s), i * 2 + 1, 32 - i * 2)"
            f" || substring(md5(s), 1, i * 2))))"
        )
    return (
        f"transform(sequence(0, {k - 1}),"
        f" i -> array_min(transform({shingles},"
        f" s -> concat(substring(md5(s), i * 2 + 1, 32 - i * 2),"
        f" substring(md5(s), 1, i * 2)))))"
    )


def _shingle_rows(df, text_col: str = "text"):
    """(doc_id, s) word-3-gram shingle ROWS on the whole-stage-codegen
    path: posexplode a token index + try_element_at instead of building
    the shingle array with ``transform(sequence(...))`` — higher-order
    functions evaluate their lambda INTERPRETED per element, measured
    13× slower for the identical downstream min-agg at sf0.1 (11.8 s →
    0.9 s).  Emits duplicates (harmless for MinHash's min; ``.distinct()``
    recovers set semantics for Jaccard); short/empty docs yield exactly
    one (possibly partial or '') shingle, matching ``_shingles_sql``'s
    ``greatest(size-2, 1)`` slice semantics."""
    ws = _tokens_sql(text_col, False)
    return (
        df.select("doc_id", F.expr(ws).alias("ws"))
        .select(
            "doc_id",
            F.expr("explode(sequence(1, greatest(size(ws) - 2, 1)))").alias("i"),
            "ws",
        )
        .select(
            "doc_id",
            F.expr(
                "concat_ws(' ', try_element_at(ws, i),"
                " try_element_at(ws, i + 1), try_element_at(ws, i + 2))"
            ).alias("s"),
        )
    )


def _stop_hits_sql(col: str, lang: str, duck: bool) -> str:
    """Non-overlapping occurrence count of the lang's stopwords in the
    space-padded normalized text (replace-trick, identical in both)."""
    padded = f"concat(' ', {_norm_sql(col, duck)}, ' ')"
    parts = []
    for w in STOPWORDS[lang]:
        needle = f" {w} "
        n = len(needle)
        parts.append(
            f"cast((length({padded}) - length(replace({padded}, '{needle}', '')))"
            f" / {n} as int)"
        )
    return "(" + " + ".join(parts) + ")"


def _simhash_sql(col: str, duck: bool) -> str:
    """16-bit SimHash over (all) whitespace tokens of normalized text,
    md5-nibble bit source: bit j set iff sum over tokens of
    (hexdigit j of md5(token) >= '8' ? 1 : -1) > 0."""
    toks = _tokens_sql(col, duck)
    if duck:
        # outer ::BIGINT: DuckDB's list_sum over (2**j)::bigint still
        # yields a DOUBLE-typed sum → pandas float64 → the driver's value
        # hasher renders 32768.0 vs Spark's 32768 (round-1 red row)
        return (
            f"(list_sum(list_transform(generate_series(0, 15), j -> case when "
            f"list_sum(list_transform({toks}, t -> case when "
            f"substring(md5(t), j + 1, 1) >= '8' then 1 else -1 end)) > 0 "
            f"then (2 ** j)::bigint else 0 end)))::BIGINT"
        )
    return (
        f"aggregate(transform(sequence(0, 15), j -> case when "
        f"aggregate(transform({toks}, t -> case when "
        f"substring(md5(t), j + 1, 1) >= '8' then 1 else -1 end),"
        f" 0, (a, x) -> a + x) > 0 "
        f"then cast(pow(2, j) as bigint) else 0 end),"
        f" cast(0 as bigint), (a, x) -> a + x)"
    )


def _quality_sql(col: str, duck: bool) -> str:
    toks = _tokens_sql(col, duck)
    n = f"len({toks})" if duck else f"size({toks})"
    flags = ", 'g'" if duck else ""
    alpha = (
        f"(length(regexp_replace({col}, '[^A-Za-z \\t\\n]', ''{flags})) * 1.0"
        f" / greatest(length({col}), 1))"
    )
    hits = _stop_hits_sql(col, "en", duck)
    score = (
        f"(least({n} / 100.0, 1.0) + {alpha} +"
        f" least(5.0 * {hits} / greatest({n}, 1), 1.0)) / 3.0"
    )
    # Spark parses bare decimal literals as DECIMAL → trailing-zero
    # formatting + decimal schema; force double before rounding
    return f"round(cast({score} as double), 6)"


def _lang_id_sql(col: str, duck: bool) -> str:
    h = {lang: _stop_hits_sql(col, lang, duck) for lang in STOPWORDS}
    mx = f"greatest({h['de']}, {h['en']}, {h['es']}, {h['fr']})"
    return (
        f"case when {mx} = 0 then 'und' "
        f"when {h['de']} = {mx} then 'de' "
        f"when {h['en']} = {mx} then 'en' "
        f"when {h['es']} = {mx} then 'es' else 'fr' end"
    )


# the fixed JSON-LD template the kg_* queries embed into synthetic pages
# (single source of truth shared by the Spark builder and the oracle)
def _kg_json_sql(duck: bool) -> str:
    # {"@context": {"@vocab": "https://schema.org/"}, "@id": ..., "@type":
    #  "Dataset", "name": "Doc N", "about": <source>, "inLanguage": <lang>}
    return (
        "concat('{\"@context\": {\"@vocab\": \"https://schema.org/\"}, "
        "\"@id\": \"https://example.org/doc/', cast(doc_id as varchar), "
        "'\", \"@type\": \"Dataset\", \"name\": \"Doc ', "
        "cast(doc_id as varchar), '\", \"about\": \"', source, "
        "'\", \"inLanguage\": \"', lang, '\"}')"
    ) if duck else (
        "concat('{\"@context\": {\"@vocab\": \"https://schema.org/\"}, "
        "\"@id\": \"https://example.org/doc/', cast(doc_id as string), "
        "'\", \"@type\": \"Dataset\", \"name\": \"Doc ', "
        "cast(doc_id as string), '\", \"about\": \"', source, "
        "'\", \"inLanguage\": \"', lang, '\"}')"
    )


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _spread(df):
    """Fan a narrow scan out to the session's parallelism before
    compute-heavy per-row map work (tokenize/md5/explode).  The sf-scale
    tables arrive as ONE parquet file = one scan split, so those map
    stages would otherwise run 1-2 tasks wide on a 32-core session.
    Gated on the actual scan partition count so a genuinely wide input
    (a real-scale many-file table) never pays the extra shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _dup_rich_docs(spark, sf_dir):
    """documents ∪ near-dup mutants (text + ' extra token', id + 100000)
    — guaranteed near-duplicate pairs for the dedup operators."""
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    mutant = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra near dup token")).alias("text"),
    )
    return _spread(d.unionByName(mutant))


DUP_RICH_SQL = (
    "(select doc_id, text from documents "
    "union all "
    "select doc_id + 100000 as doc_id, text || ' extra near dup token' as text "
    "from documents)"
)


# ---------------------------------------------------------------------------
# relational / reference-operator queries
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """Flagship aggregate (J6-style; TPC-H Q1 shape): map-side partial
    agg, one shuffle on the 6-value group key."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


O_PRICING = """
select l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) as sum_qty,
       round(sum(l_extendedprice), 2) as sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
       round(avg(l_quantity), 4) as avg_qty,
       round(avg(l_extendedprice), 4) as avg_price,
       count(*) as count_order
from lineitem group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
"""


#: constructed-corpus size for the KG-path gate queries (also used by
#: q_run_stats below, hence defined here rather than in the KG section)
KG_DOC_LIMIT = 200


def q_run_stats(spark, sf_dir):
    """J6: the reference's FULL RunStats counter map (stats.go:48-55 —
    Count/HttpError/Issues/Summoned/EmptyDoc/Stored/StoreError/
    HeadlessError plus our recovered-vs-remaining headless split)
    computed by the real run_stats operator over a mixed constructed
    corpus: doc_id%7==5 pages carry no JSON-LD but mention ld+json
    (EmptyDoc + headless candidate), %7==6 carry an unterminated block
    (Summoned but Issues), the rest a valid static doc (Summoned +
    Stored).  The oracle reconstructs every counter from the same mods.
    HttpError/StoreError/HeadlessError are structurally zero in the
    table-driven world (documented in operators/stats.py) and the
    oracle pins them at zero so a regression that starts miscounting
    into them fails the gate."""
    from ..operators.stages import extract_stage, normalize_stage, with_source
    from ..operators.stats import run_stats

    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < KG_DOC_LIMIT)
    doc_json = F.expr(_kg_json_sql(False))
    html = (
        F.when(
            F.col("doc_id") % 7 == 5,
            F.lit("<html><head></head><body>"
                  "<!-- application/ld+json injected later --></body></html>"),
        )
        .when(
            F.col("doc_id") % 7 == 6,
            F.lit('<html><head><script type="application/ld+json">'
                  '{"@context": "https://schema.org/", "name": "broken'
                  "</script></head><body></body></html>"),
        )
        .otherwise(
            F.concat(
                F.lit('<html><head><script type="application/ld+json">'),
                doc_json,
                F.lit("</script></head><body></body></html>"),
            )
        )
    )
    pages = d.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/stat/"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.col("text"), F.col("lang"),
    )
    blocks = extract_stage(with_source(pages, None))
    docs = normalize_stage(blocks)
    return run_stats(blocks, docs).orderBy("source")


O_RUN_STATS = f"""
with d as (select doc_id,
                  concat(source, '.example.org') as source
           from documents where doc_id < {KG_DOC_LIMIT})
select source,
       count(*) as count,
       count(*) filter (doc_id % 7 <> 5) as summoned,
       count(*) filter (doc_id % 7 not in (5, 6)) as stored,
       count(*) filter (doc_id % 7 = 6) as issues,
       count(*) filter (doc_id % 7 = 5) as empty_doc,
       0::BIGINT as http_error,
       0::BIGINT as store_error,
       0::BIGINT as headless_error,
       count(*) filter (doc_id % 7 = 5) as headless_candidates,
       0::BIGINT as headless_recovered
from d group by source order by source
"""


def q_anti_join_diff(spark, sf_dir):
    """J3: the resume primitive — EXCEPT semantics via left-anti join
    (reference diff mode, resources.go:210-245)."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey",
               "left_anti")
        .select("c_custkey", "c_name")
    )


O_ANTI_JOIN = """
select c_custkey, c_name from customer
where c_custkey not in (
  select o_custkey from orders where o_orderpriority = '1-URGENT'
)
"""


def q_broadcast_lookup_join(spark, sf_dir):
    """J1/J2: dimension lookup joins — customer→nation→region broadcast
    chain, revenue rollup per region."""
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    o = _load(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("r_name")
    )


O_BROADCAST_JOIN = """
select r_name, round(sum(o_totalprice), 2) as revenue, count(*) as n_orders
from orders
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
group by r_name order by r_name
"""


def q_union_sources(spark, sf_dir):
    """J4: multi-source union (sitemap-part append semantics)."""
    ev = _load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select("event_id", "event_type")
    b = ev.filter(F.col("value") > 90).select("event_id", "event_type")
    return a.unionByName(b).groupBy("event_type").agg(
        F.count("*").alias("n")
    ).orderBy("event_type")


O_UNION = """
select event_type, count(*) as n from (
  select event_id, event_type from events where event_type = 'error'
  union all
  select event_id, event_type from events where value > 90
) group by event_type order by event_type
"""


def q_dedup_exact(spark, sf_dir):
    """J5 as a training-data op: exact dedup by md5 of normalized text
    over a dup-rich input, deterministic survivor = min doc_id."""
    d = _dup_rich_docs(spark, sf_dir)
    return (
        d.withColumn("fingerprint", F.expr(f"md5({_norm_sql('text', False)})"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


O_DEDUP_EXACT = f"""
select md5({_norm_sql('text', True)}) as fingerprint,
       min(doc_id) as keep_id, count(*) as n_copies
from {DUP_RICH_SQL} group by 1
"""


def q_sort_topk(spark, sf_dir):
    """J8: deterministic ordering (sort-before-hash parity shape)."""
    d = _load(spark, sf_dir, "documents")
    return (
        d.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .select("doc_id", "n_chars", "source")
        .limit(10)
    )


O_SORT_TOPK = """
select doc_id, n_chars, source from documents
order by n_chars desc, doc_id asc limit 10
"""


def q_count_scan(spark, sf_dir):
    """J7: count-scan per source (the progress-bar pre-count)."""
    d = _load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(F.count("*").alias("n")).orderBy("source")


O_COUNT_SCAN = "select source, count(*) as n from documents group by source order by source"


def q_hash_ids(spark, sf_dir):
    """H2/H5: built-in content hashes (sha1 is Python-side parity-tested;
    md5/sha256 here because both engines expose them)."""
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_hash"),
        F.sha2("text", 256).alias("sha256_hash"),
    )


O_HASH_IDS = """
select doc_id, md5(text) as md5_hash, sha256(text) as sha256_hash
from documents where doc_id < 50
"""


def q_json_path_extract(spark, sf_dir):
    """S10/H3: JSON path extraction over the events props column
    (the S3-Select '@graph[1].@id' recovery shape)."""
    ev = _load(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").alias("k_val")
    )


O_JSON_PATH = """
select event_id, json_extract_string(props, '$.k') as k_val
from events where event_id < 200
"""


# ---------------------------------------------------------------------------
# text-analysis operators (training-data pipeline)
# ---------------------------------------------------------------------------

def q_robots_filter(spark, sf_dir):
    """S2 end-to-end: raw robots.txt BODIES → REP parser (user-agent
    group selection, comments, case-insensitive directives) → full REP
    matching with Allow precedence and ``*``/``$`` wildcards,
    longest-match-wins (the reference fetches + parses robots.txt and
    tests every URL against the matched group, acquire/utils.go:10-39).
    The ``*`` group per host: ``Disallow: /doc/1``, ``Allow: /doc/12``
    (longer → overrides), ``Disallow: /*4$`` (wildcard + end anchor);
    an ``OtherBot`` group's ``Disallow: /doc/`` must NOT apply."""
    from ..operators.robots import robots_filter, robots_rules

    d = _load(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/doc/"), F.col("doc_id")).alias("url"),
        "doc_id", "source",
    )
    body = (
        "# synthetic robots.txt\n"
        "User-agent: OtherBot\n"
        "Disallow: /doc/\n"
        "\n"
        "User-Agent: *\n"
        "Disallow: /doc/1\n"
        "Allow: /doc/12\n"
        "disallow: /*4$  # trailing comment\n"
    )
    robots = d.select("source").distinct().select(
        F.concat(F.col("source"), F.lit(".example.org")).alias("host"),
        F.lit(body).alias("body"),
    )
    return robots_filter(pages, robots_rules(robots)).select(
        "doc_id", "source", "url"
    )


O_ROBOTS_FILTER = """
select doc_id, source,
       concat('https://', source, '.example.org/doc/', cast(doc_id as varchar)) as url
from documents
where cast(doc_id as varchar) like '12%'
   or (cast(doc_id as varchar) not like '1%'
       and cast(doc_id as varchar) not like '%4')
"""


def _sitemap_bodies(spark, sf_dir):
    """Synthetic two-level sitemap corpus built from the documents table:
    per source one <sitemapindex> pointing at two <urlset> sub-sitemaps
    (doc_id parity split), page urls with whitespace padding around the
    <loc> values to exercise the reference's TrimSpace."""
    d = _load(spark, sf_dir, "documents").select("doc_id", "source")
    page_loc = F.concat(
        F.lit("<url><loc> https://"), F.col("source"),
        F.lit(".example.org/doc/"), F.col("doc_id"), F.lit(" </loc></url>"),
    )
    subs = (
        d.withColumn("b", F.pmod("doc_id", F.lit(2)))
        .groupBy("source", "b")
        .agg(F.concat_ws("", F.sort_array(F.collect_list(page_loc))).alias("locs"))
        .select(
            "source",
            F.concat(F.lit("https://"), "source",
                     F.lit(".example.org/sitemap_"), "b",
                     F.lit(".xml")).alias("url"),
            F.concat(
                F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
                "locs", F.lit("</urlset>"),
            ).alias("body"),
        )
    )
    index = subs.groupBy("source").agg(
        F.concat(
            F.lit('<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            F.concat_ws("", F.sort_array(F.collect_list(
                F.concat(F.lit("<sitemap><loc>"), "url", F.lit("</loc></sitemap>"))
            ))),
            F.lit("</sitemapindex>"),
        ).alias("body"),
    ).select(
        "source",
        F.concat(F.lit("https://"), "source",
                 F.lit(".example.org/sitemap.xml")).alias("url"),
        "body",
    )
    return subs.unionByName(index)


def q_sitemap_scan(spark, sf_dir):
    """S1: sitemap-index recursion + <loc> enumeration with whitespace
    trim (resources.go:128-173, sitemap_ng.go:42-73) over a constructed
    two-level sitemap corpus; starting from the INDEX bodies alone, every
    page URL must be reached through the recursion join."""
    from ..sources.sitemap import sitemap_page_urls

    bodies = _sitemap_bodies(spark, sf_dir)
    # start from the index sitemaps only — every page URL must be
    # reached through the index→urlset recursion join
    start = bodies.filter(F.col("url").endswith("/sitemap.xml"))
    return sitemap_page_urls(bodies, start=start).select("source", "page_url")


O_SITEMAP_SCAN = """
select distinct source,
       concat('https://', source, '.example.org/doc/', cast(doc_id as varchar)) as page_url
from documents
"""


def q_robots_sitemaps(spark, sf_dir):
    """S3: sitemap discovery from robots.txt ``Sitemap:`` lines
    (resources.go:89-118), case-insensitive directive, one row per
    declared sitemap."""
    from ..sources.sitemap import robots_sitemap_urls

    d = _load(spark, sf_dir, "documents").select("source").distinct()
    robots = d.select(
        "source",
        F.concat(
            F.lit("User-agent: *\nDisallow: /private/\nSitemap: https://"),
            F.col("source"),
            F.lit(".example.org/sitemap.xml\nsitemap: https://"),
            F.col("source"),
            F.lit(".example.org/sitemap2.xml\n"),
        ).alias("body"),
    )
    return robots_sitemap_urls(robots)


O_ROBOTS_SITEMAPS = """
select source, concat('https://', source, '.example.org/sitemap.xml') as sitemap_url
from (select distinct source from documents)
union all
select source, concat('https://', source, '.example.org/sitemap2.xml')
from (select distinct source from documents)
"""


def q_api_paged_scan(spark, sf_dir):
    """S7: paged-API URL enumeration (api.go:90-165) — per source, the
    contiguous 200-status page prefix of ``template %% page``.  Each
    source has pages 0..n_avail-1 available (n_avail derived from its
    doc count) PLUS a stray OK page at n_avail+2 that the
    stop-at-first-failure semantics must exclude."""
    from ..sources.api import api_page_urls

    d = _load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        (F.count("*") % 8 + 3).alias("n_avail")
    )
    url_of = F.concat(F.lit("https://"), F.col("source"),
                      F.lit(".example.org/api?page="), F.col("page"))
    avail = counts.select(
        "source",
        F.explode(F.sequence(F.lit(0), F.col("n_avail") - 1)).alias("page"),
    )
    stray = counts.select("source", (F.col("n_avail") + 2).alias("page"))
    fetched = avail.unionByName(stray).select(
        url_of.alias("url"), F.lit(200).alias("status")
    )
    sources = counts.select(
        "source",
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/api?page=%d")).alias("url_template"),
        F.lit(20).alias("apipagelimit"),
    )
    return api_page_urls(sources, fetched).select("source", "page", "url")


O_API_PAGED = """
with s as (select source, count(*) % 8 + 3 as n_avail
           from documents group by source),
pages as (select source, n_avail, g as page
          from s cross join generate_series(0, 19) t(g))
select source, page,
       concat('https://', source, '.example.org/api?page=',
              cast(page as varchar)) as url
from pages where page < n_avail
"""


def q_text_normalize(spark, sf_dir):
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select("doc_id", F.expr(_norm_sql("text", False)).alias("text_norm"))


O_TEXT_NORMALIZE = (
    f"select doc_id, {_norm_sql('text', True)} as text_norm "
    "from documents where doc_id < 50"
)


def q_token_count(spark, sf_dir):
    """Whitespace tokens + BPE-ish subword tokens (word pieces +
    individual punctuation, core/text.py:bpe_ish_tokens) in ONE pass of
    pure column expressions — merged from the former separate
    token_count / token_count_bpe registry rows to free a slot under the
    driver's 50-row gate cap (the scan is shared; two rows paid it
    twice)."""
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(f"size({_tokens_sql('text', False)})").alias("n_tokens"),
        F.expr(
            r"size(regexp_extract_all(text,"
            r" '[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]', 0))"
        ).alias("n_bpe_tokens"),
        F.length("text").alias("len_chars"),
    )


O_TOKEN_COUNT = (
    f"select doc_id, len({_tokens_sql('text', True)}) as n_tokens, "
    r"len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^\sA-Za-z0-9_]'))"
    " as n_bpe_tokens, "
    "length(text) as len_chars from documents"
)


def q_quality_score(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return d.select("doc_id", F.expr(_quality_sql("text", False)).alias("quality"))


O_QUALITY = (
    f"select doc_id, {_quality_sql('text', True)} as quality from documents"
)


def q_lang_id(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang",
        F.expr(_lang_id_sql("text", False)).alias("lang_pred"),
    )


O_LANG_ID = (
    f"select doc_id, lang, {_lang_id_sql('text', True)} as lang_pred "
    "from documents"
)


def q_fingerprint(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(f"md5({_norm_sql('text', False)})").alias("fingerprint"),
    )


O_FINGERPRINT = (
    f"select doc_id, md5({_norm_sql('text', True)}) as fingerprint "
    "from documents"
)


# ---------------------------------------------------------------------------
# dedup operators (MinHash / LSH / SimHash / n-gram Jaccard)
# ---------------------------------------------------------------------------

def q_minhash_signature(spark, sf_dir):
    """Exploded codegen path (minhash_from_rows): md5 + rotations as plain
    column expressions over shingle rows, then groupBy-min — the
    array/HOF formulation runs interpreted per element and was measured
    ~25× slower at sf0.1."""
    from ..functions.minhash import minhash_from_rows

    d = _load(spark, sf_dir, "documents")
    return minhash_from_rows(_shingle_rows(d), ["doc_id"], k=NUM_MINHASH).select(
        "doc_id", F.concat_ws("|", "mh").alias("minhash_sig")
    )


O_MINHASH_SIG = (
    f"select doc_id, array_to_string({_minhash_sql(_shingles_sql('text', True), True)}, '|')"
    " as minhash_sig from documents"
)


# LSH bucket cap (quadratic-blowup guard) — the single shared constant
# and join shape live in operators.link / functions.minhash.cap_buckets
from ..operators.link import MAX_BUCKET as LSH_MAX_BUCKET  # noqa: E402


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates over the dup-rich corpus:
    shingle → 16-hash signature → threshold-driven banding
    (lsh_params(t=0.7, k=16) → 4 bands of 4) → capped bucket join →
    ordered distinct pairs.  Buckets larger than LSH_MAX_BUCKET are
    dropped before the self-join (oracle applies the identical cap).
    The operator (functions.minhash.minhash_lsh_pairs) is the linker's;
    the barrier pays tokenization once for its vocabulary and signature
    passes."""
    from ..functions.barrier import reliable_ckpt
    from ..functions.minhash import minhash_lsh_pairs

    rows = reliable_ckpt(_shingle_rows(_dup_rich_docs(spark, sf_dir)))
    return minhash_lsh_pairs(rows, "doc_id", LSH_BAND, LSH_MAX_BUCKET,
                             k=NUM_MINHASH)


O_DEDUP_MINHASH = f"""
with sig as (
  select doc_id, {_minhash_sql(_shingles_sql('text', True), True)} as mh
  from {DUP_RICH_SQL}
),
bands as (
  select doc_id,
         concat(b::varchar, '#', array_to_string(mh[b*{LSH_BAND}+1:b*{LSH_BAND}+{LSH_BAND}], '|')) as bucket
  from sig, unnest(generate_series(0, {LSH_BANDS - 1})) t(b)
),
capped as (
  select doc_id, bucket from bands
  qualify count(*) over (partition by bucket) <= {LSH_MAX_BUCKET}
)
select distinct l.doc_id as a, r.doc_id as b
from capped l join capped r using (bucket)
where l.doc_id < r.doc_id
"""


#: Vocabulary ceiling for q_dedup_ngram_jaccard's dense int shingle ids
#: (one-task sort + broadcast attach); above it the ids come from a
#: range-partitioned sort, the only side that scales past one partition.
#: Both sides match the oracle (range forced: sf0.01, 600 rows; sf0.1,
#: 6,024 rows).  Dense is the faster one where it fits: 4 alternating
#: ``bench_extra.py --windows 5`` pairs at sf0.1 on a 4-cpu host gave
#: medians of 3.97 s dense vs 4.37 s range, dense winning 3 of 4.
NGRAM_DENSE_DICT_MAX = 4_000_000


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard pairs ≥ t=0.5, computed with df-ordered
    prefix filtering (Chaudhuri/Bayardo all-pairs): a pair with
    J(A,B) ≥ t must share a shingle within each side's first
    |S| − ⌈t·|S|⌉ + 1 shingles under a global rarity order, so only the
    rare-shingle prefix feeds the inverted-index self-join — candidate
    volume scales with Σ df², which the rarity order minimizes — and
    every candidate row verifies exactly.  Result is IDENTICAL to the
    exhaustive oracle; only the candidate space shrinks.

    Physical layout (round 6): shingles are dictionary-encoded to int
    ids whose order matches the (df, shingle) rarity order, each doc
    carries its whole set as one sorted int array, and the exact Jaccard
    check runs INLINE in the prefix self-join stage.  The candidate pair
    stream (76M rows at the 100k-doc corpus, 60k survivors) therefore
    never crosses an exchange: the old plan shuffled all candidates
    through a distinct and two array-attach joins (245 s of its 300 s
    total); this plan shuffles only prefix rows in and survivors out."""
    t = 0.5
    d = _dup_rich_docs(spark, sf_dir)
    from ..functions.barrier import reliable_ckpt

    # codegen shingle rows (see _shingle_rows: 13× vs the HOF array
    # build); duplicates survive until the per-doc collect_set.
    # Barriered: both the dictionary pass and the doc-set pass read it,
    # and tokenization (regexp_replace + split per doc) is the expensive
    # part of the scan — pay it once.
    raw = reliable_ckpt(_shingle_rows(d))

    # global rarity dictionary: shingle → sid, with sid ORDER-CONSISTENT
    # with the (df, s) rarity order.  df here counts shingle OCCURRENCES
    # (cheaper than per-doc distinct, and within-doc duplicate shingles
    # are rare): the prefix theorem holds for ANY fixed total order —
    # the order only steers candidate volume, never the verified result
    # — so the occurrence count is as sound as the document frequency
    # and nearly as selective.
    dict_df = reliable_ckpt(
        raw.groupBy("s").agg(F.count("*").alias("df"))
    )
    n_dict = dict_df.count()
    if n_dict <= NGRAM_DENSE_DICT_MAX:
        # small vocabulary (the count is free post-ckpt): dense int ids
        # from a one-task sort of the tiny dictionary, broadcast attach.
        # Int arrays matter: ArrayIntersect over int is measurably
        # cheaper than over the sparse longs monotonically_increasing_id
        # yields, and this branch carries 79M verifications at sf1.0.
        # No barrier: the id frame is consumed exactly once (this
        # broadcast build), derives from the ckpt'd dictionary, and the
        # one-partition sort makes the ids deterministic on any
        # recompute — a reliable_ckpt here was a pure extra job.
        sid = (
            dict_df.coalesce(1).sortWithinPartitions("df", "s")
            .select("s",
                    F.monotonically_increasing_id().cast("int").alias("sid"))
        )
        dict_side = F.broadcast(sid)
    else:
        # 100 TB-scale vocabulary: order-consistent long ids via
        # range-partition + sortWithinPartitions +
        # monotonically_increasing_id (partition ordinal lives in the
        # id's high bits, so cross-partition order is preserved) instead
        # of an unbounded single-partition window; planner-chosen
        # shuffle join for the attach.
        n_part = max(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
        sid = reliable_ckpt(
            dict_df.repartitionByRange(n_part, "df", "s")
            .sortWithinPartitions("df", "s")
            .select("s", F.monotonically_increasing_id().alias("sid"))
        )
        dict_side = sid

    # one sorted int array per doc = the rarity-ordered shingle set;
    # ids ascending ⟺ (df, s) ascending, so slice(ids, 1, p) IS the
    # rarity prefix and rn is the array position.  Alongside it, a
    # 256-bit bucket bitmap (sid % 256, four longs via bit_or) and the
    # doc's within-bitmap collision count: for any pair,
    #   |A∩B| ≤ popcount(bmA ∧ bmB) + min(collA, collB)
    # (each intersection element sets a common bit; a subset's excess
    # |S| − |h(S)| is monotone under inclusion, so the intersection's
    # collision loss is bounded by either side's).  This sound upper
    # bound prunes ~99% of candidate rows with ~15 codegen ops before
    # the exact-but-costly array_intersect runs.
    n_buckets = 256
    bm_aggs = [
        F.expr(
            f"bit_or(case when (sid % {n_buckets}) div 64 = {k} "
            f"then shiftleft(cast(1 as bigint), (sid % {n_buckets}) % 64) "
            f"else cast(0 as bigint) end)"
        ).alias(f"bm{k}")
        for k in range(4)
    ]
    docs = reliable_ckpt(
        raw.join(dict_side, "s")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("sid")).alias("ids"), *bm_aggs)
        .withColumn("n_sh", F.size("ids"))
        .withColumn(
            "coll",
            F.col("n_sh")
            - sum(F.bit_count(F.col(f"bm{k}")) for k in range(4)),
        )
    )
    # prefix rows are NARROW (no ids array): the candidate join decides
    # membership from counts, positions and bitmaps alone, and the exact
    # arrays are attached only to the ~65k distinct surviving pairs —
    # the 79M matched rows never carry (or copy) an array
    plen = "cast(n_sh - ceil(0.5 * n_sh) + 1 as int)"
    carry = ["doc_id", "n_sh", "coll"] + [f"bm{k}" for k in range(4)]
    pref = docs.select(
        *carry,
        F.posexplode(F.expr(f"slice(ids, 1, {plen})")).alias("p", "sid"),
    ).select(*carry, (F.col("p") + 1).alias("rn"), "sid")
    # the self-join's verify stage is compute-bound (79M inline exact
    # Jaccard checks at sf1.0), not byte-bound: AQE's size-based
    # coalescing would run it ~10-wide, so pin the join width to the
    # compute parallelism instead (a repartition by the join key replaces
    # the join's own exchange — no extra shuffle)
    verify_parts = max(8 * spark.sparkContext.defaultParallelism,
                       int(spark.conf.get("spark.sql.shuffle.partitions",
                                          "32")))
    pref = pref.repartition(verify_parts, "sid")

    # candidate join with BOTH prunes inside the join (PPJoin-style):
    #  - length-ratio: J ≥ t requires t·|B| ≤ |A| ≤ |B|/t;
    #  - positional: at a pair's FIRST shared prefix shingle (positions
    #    ra/rb in the global rarity order) the overlap is bounded by
    #    1 + min(na−ra, nb−rb), and J ≥ t needs overlap ≥
    #    ⌈t/(1+t)·(na+nb)⌉ — rows failing the bound can't be a pair's
    #    first match, and every truly-similar pair survives via its
    #    first-match row (no false negatives; verification is exact)
    # followed by the exact Jaccard INLINE on the carried int arrays
    # (|A∪B| = na + nb − |A∩B|, a set identity — array_union removed);
    # only survivors reach the final pair-dedup exchange.
    l = pref.select(F.col("doc_id").alias("a"),
                    F.col("rn").alias("ra"), F.col("n_sh").alias("na"),
                    F.col("coll").alias("ca"), "sid",
                    *[F.col(f"bm{k}").alias(f"xa{k}") for k in range(4)])
    r = pref.select(F.col("doc_id").alias("b"),
                    F.col("rn").alias("rb"), F.col("n_sh").alias("nb"),
                    F.col("coll").alias("cb"), "sid",
                    *[F.col(f"bm{k}").alias(f"xb{k}") for k in range(4)])
    alpha = F.ceil(F.lit(t / (1 + t)) * (F.col("na") + F.col("nb")))
    ub = sum(
        F.bit_count(F.col(f"xa{k}").bitwiseAND(F.col(f"xb{k}")))
        for k in range(4)
    ) + F.least(F.col("ca"), F.col("cb"))
    cand = (
        l.join(r, "sid")
        .filter(F.col("a") < F.col("b"))
        .filter(
            (F.col("na") >= F.ceil(F.lit(t) * F.col("nb")))
            & (F.col("nb") >= F.ceil(F.lit(t) * F.col("na")))
        )
        .filter(
            1 + F.least(F.col("na") - F.col("ra"),
                        F.col("nb") - F.col("rb")) >= alpha
        )
        .filter(ub >= alpha)
        .select("a", "b")
        .distinct()
    )
    sa = docs.select(F.col("doc_id").alias("a"), F.col("ids").alias("ids_a"),
                     F.col("n_sh").alias("na"))
    sb = docs.select(F.col("doc_id").alias("b"), F.col("ids").alias("ids_b"),
                     F.col("n_sh").alias("nb"))
    inter = F.size(F.array_intersect("ids_a", "ids_b"))
    jaccard = inter / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("jaccard", F.round(jaccard, 4))
        .filter(F.col("jaccard") >= t)
        .select("a", "b", "jaccard")
    )


O_NGRAM_JACCARD = f"""
with sh as (
  select doc_id, {_shingles_sql('text', True)} as shingles
  from {DUP_RICH_SQL}
),
inv as (
  select doc_id, len(shingles) as n_sh, unnest(shingles) as shingle from sh
)
select l.doc_id as a, r.doc_id as b,
       round(count(*) * 1.0 / (any_value(l.n_sh) + any_value(r.n_sh) - count(*)), 4) as jaccard
from inv l join inv r using (shingle)
where l.doc_id < r.doc_id
group by l.doc_id, r.doc_id
having round(count(*) * 1.0 / (any_value(l.n_sh) + any_value(r.n_sh) - count(*)), 4) >= 0.5
"""


def q_dedup_simhash(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.expr(_simhash_sql("text", False)).alias("simhash16")
    )


O_SIMHASH = (
    f"select doc_id, {_simhash_sql('text', True)} as simhash16 from documents"
)


# --- 64-bit SimHash dedup (banded Hamming) --------------------------------
#
# Signature: core.text.simhash64_hex — bit j (= 4k + r) driven by bit r
# of hex nibble k of md5(token); stored as two longs of 32 bits each
# (no bigint sign trouble at bit 63).  4 bands of 16 bits: any pair with
# Hamming ≤ 3 shares at least one untouched band (pigeonhole), so banded
# candidates + exact verification = the EXACT distance-≤3 pair set.

SIMHASH_HAMMING_MAX = 3
SIMHASH_MAX_BUCKET = 256   # band-bucket cap (quadratic-blowup guard)

# dup enrichment: near-dup mutants (+100000, 4 extra tokens — included
# only when their measured distance ≤ 3) and exact mutants (+200000,
# distance 0 — guaranteed pairs)
SIMHASH_DUP_SQL = (
    "(select doc_id, text from documents "
    "union all "
    "select doc_id + 100000 as doc_id, text || ' extra near dup token' as text "
    "from documents "
    "union all "
    "select doc_id + 200000 as doc_id, text from documents)"
)


def _simhash64_sums(df):
    """Per-doc ±1 bit sums (doc_id, s0..s63, has_empty) — the linear
    stage of SimHash.  ``has_empty`` = 1 iff the normalized text is
    empty (split('') yields exactly the one token '', and '' can occur
    as a token ONLY in that case) — carried so callers can do exact
    suffix algebra on the sums (see q_dedup_simhash_pairs).

    Bit j reads hex nibble k of md5 from one of two conv()-parsed 32-bit
    halves (hi32 for k < 8, shift 4·(7−k)+r): two convs per token row
    instead of 64 instr+substring probes."""
    toks = df.select(
        "doc_id", F.explode(F.expr(_tokens_sql("text", False))).alias("t")
    ).select(
        "doc_id",
        F.expr("cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)")
        .alias("hi32"),
        F.expr("cast(conv(substring(md5(t), 9, 8), 16, 10) as bigint)")
        .alias("lo32"),
        (F.col("t") == "").cast("int").alias("emp"),
    )
    aggs = []
    for j in range(64):
        k, r = divmod(j, 4)
        src, kk = ("hi32", k) if k < 8 else ("lo32", k - 8)
        shift = 4 * (7 - kk) + r
        aggs.append(
            F.sum(F.expr(
                f"(shiftright({src}, {shift}) & 1) * 2 - 1"
            )).alias(f"s{j}")
        )
    aggs.append(F.max("emp").alias("has_empty"))
    return toks.groupBy("doc_id").agg(*aggs)


def _simhash_nib(k: int) -> str:
    """Signature nibble k (0..15) from the bit sums s{4k}..s{4k+3}."""
    return "(" + " + ".join(
        f"(case when s{4 * k + r} > 0 then {1 << r} else 0 end)"
        for r in range(4)
    ) + ")"


def _simhash64_pack_ints(sums):
    """(doc_id, s0..s63) → (doc_id, sig_hi, sig_lo): the signature as two
    packed longs, sig_hi = hex chars 1-8 and sig_lo = chars 9-16 of
    core.text.simhash64_hex, so ``f"{sig_hi:08x}{sig_lo:08x}"`` is the
    reference's hex form."""
    def word(first: int) -> str:  # nibbles first..first+7, big-endian
        return "cast(" + " + ".join(
            f"cast({_simhash_nib(first + k)} as bigint) * {1 << (4 * (7 - k))}"
            for k in range(8)
        ) + " as bigint)"

    return sums.select(
        "doc_id",
        F.expr(word(0)).alias("sig_hi"), F.expr(word(8)).alias("sig_lo"),
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash as an actual dedup operator: 64-bit signature → 4×16-bit
    bands → capped bucket join → exact Hamming ≤ 3 verification.
    Recall within the distance bound is exact (pigeonhole over bands).

    Round 6: the band rows carry the packed 64-bit signature (two
    longs), so the exact Hamming check runs INLINE in the bucket
    self-join as two xor+bit_counts per candidate — the 13.7M-candidate
    stream at sf1.0 no longer pays a pair-distinct exchange plus two
    signature-attach joins with a 16-step interpreted hex-parsing HOF;
    only Hamming-≤3 survivors reach the final distinct."""
    base = _load(spark, sf_dir, "documents").select("doc_id", "text")

    from ..functions.barrier import reliable_ckpt

    # The mutant corpus is ALGEBRAICALLY redundant: the 'exact' copy has
    # identical token sums, and the 'near' copy's tokens are the base's
    # plus the four constant suffix tokens (the normalized concat always
    # appends exactly them — except when the base normalizes to empty,
    # where the base's single '' token disappears; has_empty carries
    # that correction).  So tokenize + 64-way-aggregate the BASE ONCE
    # (⅓ of the rows) and derive the other two signatures by constant
    # vector arithmetic on the sums — bit-identical to summing the
    # mutants' own tokens.
    import hashlib

    def _pm1(token: str) -> list[int]:
        h = hashlib.md5(token.encode()).hexdigest()
        hi, lo = int(h[:8], 16), int(h[8:16], 16)
        out = []
        for j in range(64):
            k, r = divmod(j, 4)
            v, kk = (hi, k) if k < 8 else (lo, k - 8)
            out.append(2 * ((v >> (4 * (7 - kk) + r)) & 1) - 1)
        return out

    suffix_c = [0] * 64
    for tok in ("extra", "near", "dup", "token"):
        v = _pm1(tok)
        suffix_c = [a + b for a, b in zip(suffix_c, v)]
    empty_c = _pm1("")

    # barrier: three derived frames read the sums — compute them once
    sums = reliable_ckpt(_simhash64_sums(_spread(base)))
    s_cols = [f"s{j}" for j in range(64)]
    base_s = sums.select("doc_id", *s_cols)
    near_s = sums.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        *[
            (F.col(f"s{j}") + F.lit(suffix_c[j])
             - F.col("has_empty") * F.lit(empty_c[j])).alias(f"s{j}")
            for j in range(64)
        ],
    )
    exact_s = sums.select((F.col("doc_id") + 200000).alias("doc_id"),
                          *s_cols)
    # feeds all four band rows — compute once.  Only the packed longs:
    # the hex signature never leaves this query, and the four 16-bit
    # bands are exact int slices of the longs (band b of the hex == bits
    # 63−16b..48−16b — the hex-substring ↔ int-slice map is bijective,
    # so buckets, caps and membership are IDENTICAL, with int band keys
    # instead of 4-char strings).
    sig = reliable_ckpt(_simhash64_pack_ints(
        base_s.unionByName(near_s).unionByName(exact_s)))

    band_slices = F.array(
        F.expr("shiftright(sig_hi, 16)"),
        F.expr("sig_hi & 65535"),
        F.expr("shiftright(sig_lo, 16)"),
        F.expr("sig_lo & 65535"),
    )
    bands = sig.select(
        "doc_id", "sig_hi", "sig_lo",
        F.posexplode(band_slices).alias("band_idx", "band"),
    )
    from ..functions.minhash import cap_buckets

    bands = cap_buckets(bands, ["band_idx", "band"], SIMHASH_MAX_BUCKET)
    l = bands.select("band_idx", "band", F.col("doc_id").alias("a"),
                     F.col("sig_hi").alias("ha_hi"),
                     F.col("sig_lo").alias("ha_lo"))
    r = bands.select("band_idx", "band", F.col("doc_id").alias("b"),
                     F.col("sig_hi").alias("hb_hi"),
                     F.col("sig_lo").alias("hb_lo"))
    ham = ("cast(bit_count(ha_hi ^ hb_hi) + bit_count(ha_lo ^ hb_lo)"
           " as int)")
    return (
        l.join(r, ["band_idx", "band"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.expr(ham))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("a", "b", "hamming")
        .distinct()
    )


O_SIMHASH_PAIRS = f"""
with tok as (
  select doc_id, unnest({_tokens_sql('text', True)}) as t from {SIMHASH_DUP_SQL}
),
h as (select doc_id, md5(t) as h from tok),
bits as (
  select doc_id, j,
    sum(case when ((strpos('0123456789abcdef', substring(h, (j // 4) + 1, 1)) - 1)
              >> (j % 4)) & 1 = 1 then 1 else -1 end) as s
  from h cross join generate_series(0, 63) as t(j)
  group by doc_id, j
),
nibs as (
  select doc_id, j // 4 as k,
         sum(case when s > 0 then (1 << (j % 4)) else 0 end) as nib
  from bits group by doc_id, j // 4
),
sig as (
  select doc_id,
         string_agg(substring('0123456789abcdef', nib::int + 1, 1), '' order by k) as sh
  from nibs group by doc_id
),
bands as (
  select doc_id, b as band_idx, substring(sh, b * 4 + 1, 4) as band
  from sig cross join generate_series(0, 3) as t(b)
),
capped as (
  select doc_id, band_idx, band from bands
  qualify count(*) over (partition by band_idx, band) <= {SIMHASH_MAX_BUCKET}
),
cand as (
  select distinct l.doc_id as a, r.doc_id as b
  from capped l join capped r using (band_idx, band)
  where l.doc_id < r.doc_id
),
scored as (
  select c.a, c.b,
    (select sum(bit_count(xor(
        strpos('0123456789abcdef', substring(sa.sh, k, 1)) - 1,
        strpos('0123456789abcdef', substring(sb.sh, k, 1)) - 1)))
     from generate_series(1, 16) as t(k))::BIGINT as hamming
  from cand c
  join sig sa on sa.doc_id = c.a
  join sig sb on sb.doc_id = c.b
)
select a, b, hamming from scored where hamming <= {SIMHASH_HAMMING_MAX}
"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

def _cosine_expr(a: str, b: str) -> str:
    """double-precision cosine via zip_with/aggregate (JVM-side)."""
    dot = (f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
           " cast(0.0 as double), (acc, v) -> acc + v)")
    na = (f"sqrt(aggregate({a}, cast(0.0 as double),"
          " (acc, v) -> acc + cast(v as double) * cast(v as double)))")
    nb = (f"sqrt(aggregate({b}, cast(0.0 as double),"
          " (acc, v) -> acc + cast(v as double) * cast(v as double)))")
    return f"({dot} / ({na} * {nb}))"


def _ranked_topk(scored: DataFrame, out_cols: list[str], k: int) -> DataFrame:
    """Global top-k WITHOUT a corpus-wide single-partition Window:
    ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject (per-partition
    heap top-k + driver merge of k·P rows), then the rank is derived by a
    Window over the already-bounded k-row frame — the single-partition
    exchange moves exactly k rows no matter the corpus size.  The
    previous ``row_number() over (order by ...)`` formulation shuffled
    every scored row to one partition (round-1 VERDICT 'What's wrong' #2)."""
    from pyspark.sql import Window

    topk = scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(*out_cols)


def q_ann_topk_bruteforce(spark, sf_dir):
    """Brute-force cosine top-10 neighbours of vec_id 0 — the ANN
    baseline.  Deterministic selection via (rounded sim, vec_id) rank."""
    e = _load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "cos_sim",
            F.round(F.expr(_cosine_expr("embedding", "query_vec")), 6),
        )
        .select("vec_id", "cos_sim")
    )
    return _ranked_topk(scored, ["vec_id", "cos_sim", "rnk"], k=10)


def q_ann_topk_vectorized(spark, sf_dir):
    """Same semantics as ann_topk_bruteforce, scored on the Arrow/NumPy
    path (functions/vecmath.py: one BLAS matrix-vector product per Arrow
    batch) instead of interpreted zip_with/aggregate higher-order
    functions — the formulation that wins when dim and corpus grow.
    Shares ann_topk_bruteforce's oracle: identical rounded scores."""
    from ..functions.vecmath import cosine_scores

    e = _load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    scored = cosine_scores(
        e.filter(F.col("vec_id") != 0), "embedding", list(qv)
    ).select("vec_id", "cos_sim")
    return _ranked_topk(scored, ["vec_id", "cos_sim", "rnk"], k=10)


def q_ann_topk(spark, sf_dir):
    """Both ANN-baseline scorers — HOF/codegen brute force and the
    Arrow/NumPy BLAS path — gated as ONE registry row (the driver's
    correctness gate caps at 50 rows; round-3 VERDICT #1), tagged by an
    ``impl`` column.  A divergence in either path breaks the value hash,
    so both implementations stay oracle-verified."""
    bf = q_ann_topk_bruteforce(spark, sf_dir).withColumn(
        "impl", F.lit("bruteforce")
    )
    vec = q_ann_topk_vectorized(spark, sf_dir).withColumn(
        "impl", F.lit("vectorized")
    )
    return bf.unionByName(vec).select("impl", "vec_id", "cos_sim", "rnk")


O_ANN_TOPK_BOTH = """
with q as (select embedding::DOUBLE[] as qv from embeddings where vec_id = 0),
scored as (
  select vec_id,
         round(list_dot_product(embedding::DOUBLE[], qv)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv, qv))), 6) as cos_sim
  from embeddings, q where vec_id <> 0
),
topk as (
  select vec_id, cos_sim, rnk from (
    select vec_id, cos_sim,
           row_number() over (order by cos_sim desc, vec_id asc) as rnk
    from scored
  ) where rnk <= 10
)
select impl, vec_id, cos_sim, rnk
from topk cross join (values ('bruteforce'), ('vectorized')) impls(impl)
"""


#: Sign-LSH bucket-size cap.  Buckets above this are dropped (observed
#: via cap_buckets, never silent) before any within-bucket self-join —
#: the quadratic-blowup guard of last resort (round-2 VERDICT #2).
SIGN_LSH_MAX_BUCKET = 512

#: Mean bucket-occupancy target the sign bit-width is derived from:
#: bits ≈ log2(n / target), so buckets stay well under the cap and the
#: cap only catches genuine skew (near-duplicate pile-ups), not the
#: average bucket.  Round-3 VERDICT #2: a CONSTANT 8-bit width meant
#: that at 10^12 vectors every bucket blew past the cap and the
#: operator degraded to near-zero recall; deriving the width from the
#: corpus count keeps mean occupancy flat at any scale.
SIGN_LSH_TARGET_BUCKET = 64

#: bit-width clamp: ≥4 keeps tiny corpora bucketed at all; ≤16 keeps
#: the bucket key within the leading dims of the 64-dim embeddings and
#: the multi-probe list tiny (probes = bits + 1)
SIGN_LSH_MIN_BITS, SIGN_LSH_MAX_BITS = 4, 16


def _sign_lsh_bits(n: int) -> int:
    """Corpus-size-derived sign-LSH bit-width:
    clamp(ceil(log2(ceil(n / target))), 4, 16) in pure integer
    arithmetic (bit_length — no float log2, so the SQL mirror
    ``_sign_bits_sql`` agrees exactly on power-of-two boundaries)."""
    m = -(-n // SIGN_LSH_TARGET_BUCKET)
    b = (m - 1).bit_length() if m > 1 else 0
    return max(SIGN_LSH_MIN_BITS, min(SIGN_LSH_MAX_BITS, b))


def _sign_bits_sql(src: str) -> str:
    """DuckDB mirror of :func:`_sign_lsh_bits` as a params CTE body:
    ``p as (<this>)`` → ``(select bits from p)``.  length(bin(m-1)) is
    ceil(log2(m)) for m ≥ 2 — integer-exact like bit_length."""
    return f"""
  select greatest({SIGN_LSH_MIN_BITS}, least({SIGN_LSH_MAX_BITS},
    case when m <= 1 then 0 else length(bin((m - 1)::BIGINT)) end)) as bits
  from (select cast(ceil(count(*) / {SIGN_LSH_TARGET_BUCKET}.0) as bigint)
          as m from {src})"""


def _sign_bucket_expr(bits: int):
    """Spark bucket key: signs of the first ``bits`` embedding dims."""
    return F.expr(
        f"concat_ws('', transform(slice(embedding, 1, {bits}),"
        " x -> case when x >= 0 then '1' else '0' end))"
    )


def q_ann_lsh_bucketed(spark, sf_dir):
    """Scale-path ANN: sign-bucket LSH (corpus-size-derived bit-width,
    see _sign_lsh_bits) → top-5 within-bucket pairs per bucket by
    cosine.  At 10^12 scale the bucket key becomes the shuffle/partition
    key; brute force stays per-bucket, and buckets over
    SIGN_LSH_MAX_BUCKET members are dropped (observed via cap_buckets)
    before the self-join."""
    from ..functions.minhash import cap_buckets

    e = _load(spark, sf_dir, "embeddings")
    bits = _sign_lsh_bits(e.count())
    # per-vector norm computed ONCE here instead of twice per pair
    # inside the cosine (the interpreted-HOF aggregate was 2/3 of the
    # old per-pair cost); sqrt(Σx²) is float-identical to the value the
    # fused cosine expression computed, so round(dot/(na·nb), 6) is
    # unchanged bit-for-bit
    nrm = ("sqrt(aggregate(embedding, cast(0.0 as double),"
           " (acc, v) -> acc + cast(v as double) * cast(v as double)))")
    eb = _spread(e).select("vec_id", "embedding",
                           _sign_bucket_expr(bits).alias("bucket"),
                           F.expr(nrm).alias("nrm"))
    eb = cap_buckets(eb, ["bucket"], SIGN_LSH_MAX_BUCKET)
    # pin the self-join width: the pair-scoring stage is compute-bound
    # (interpreted HOF dot per pair) and AQE's byte-based coalescing
    # would run it a handful of tasks wide
    eb = eb.repartition(
        2 * spark.sparkContext.defaultParallelism, "bucket")
    l = eb.select("bucket", F.col("vec_id").alias("a"),
                  F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    r = eb.select("bucket", F.col("vec_id").alias("b"),
                  F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    # NOTE (round 6): an unrolled 64-term element_at dot was A/B-tested
    # against this fold and LOST (2.70s vs 2.54s warm at sf1.0 — the
    # per-element null checks cost more than the interpreted lambda
    # saves); the fold stays deliberately.
    dot = ("aggregate(zip_with(ea, eb,"
           " (x, y) -> cast(x as double) * cast(y as double)),"
           " cast(0.0 as double), (acc, v) -> acc + v)")
    pairs = (
        l.join(r, "bucket")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos_sim",
                    F.round(F.expr(dot) / (F.col("na") * F.col("nb")), 6))
        .select("bucket", "a", "b", "cos_sim")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy(
        F.desc("cos_sim"), F.asc("a"), F.asc("b")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("bucket", "a", "b", "cos_sim", "rnk")
    )


O_ANN_LSH = f"""
with p as ({_sign_bits_sql('embeddings')}
),
eb0 as (
  select vec_id, embedding::DOUBLE[] as ev,
         array_to_string(list_transform(embedding[1:(select bits from p)],
           x -> case when x >= 0 then '1' else '0' end), '') as bucket
  from embeddings
),
eb as (
  select vec_id, ev, bucket from eb0
  qualify count(*) over (partition by bucket) <= {SIGN_LSH_MAX_BUCKET}
),
pairs as (
  select l.bucket, l.vec_id as a, r.vec_id as b,
         round(list_dot_product(l.ev, r.ev)
               / (sqrt(list_dot_product(l.ev, l.ev))
                  * sqrt(list_dot_product(r.ev, r.ev))), 6) as cos_sim
  from eb l join eb r using (bucket) where l.vec_id < r.vec_id
)
select bucket, a, b, cos_sim, rnk from (
  select bucket, a, b, cos_sim,
         row_number() over (partition by bucket
                            order by cos_sim desc, a asc, b asc) as rnk
  from pairs
) where rnk <= 5
"""


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-bucket LSH blocking
    (corpus-size-derived bit-width) keeps the pair space per-bucket;
    within buckets, exact cosine
    ≥ 0.9 marks near-duplicates.  Same blocking in the oracle — the check
    verifies the bucketed semantics, not exhaustive recall (that's
    ann_topk_bruteforce's job).  The input is dup-enriched with a
    deterministic mutant per vector (last dim sign-flipped → cos ≈
    1 − 2/64 ≈ 0.97, same bucket) so the threshold actually fires: the
    base table's max in-bucket cosine is ~0.49."""
    e = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mutant = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "concat(slice(embedding, 1, size(embedding) - 1),"
            " array(-element_at(embedding, -1)))"
        ).alias("embedding"),
    )
    n_base = e.count()  # base-table count only: counting the union
    # would re-run the mutant transform in an extra full pass (review
    # finding); the dup corpus is exactly 2× the base by construction
    e = e.unionByName(mutant)
    from ..functions.minhash import cap_buckets

    bits = _sign_lsh_bits(2 * n_base)
    eb = e.select("vec_id", "embedding",
                  _sign_bucket_expr(bits).alias("bucket"))
    eb = cap_buckets(eb, ["bucket"], SIGN_LSH_MAX_BUCKET)
    # per-vector norm once (float-identical to the fused per-pair HOF it
    # replaces); the dot stays the zip_with/aggregate fold — same rewrite
    # as q_ann_lsh_bucketed, same bit-identical-order argument
    nrm = ("sqrt(aggregate(embedding, cast(0.0 as double),"
           " (acc, v) -> acc + cast(v as double) * cast(v as double)))")
    eb = eb.withColumn("nrm", F.expr(nrm))
    l = eb.select("bucket", F.col("vec_id").alias("a"),
                  F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    r = eb.select("bucket", F.col("vec_id").alias("b"),
                  F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    dot = ("aggregate(zip_with(ea, eb,"
           " (x, y) -> cast(x as double) * cast(y as double)),"
           " cast(0.0 as double), (acc, v) -> acc + v)")
    cos = f"{dot} / (na * nb)"
    return (
        l.join(r, "bucket")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos_sim", F.round(F.expr(cos), 6))
        .filter(F.col("cos_sim") >= 0.9)
        .select("a", "b", "cos_sim")
    )


O_DEDUP_EMB_COS = f"""
with dup as (
  select vec_id, embedding from embeddings
  union all
  select vec_id + 100000 as vec_id,
         embedding[1:len(embedding)-1] || [-embedding[len(embedding)]]
           as embedding
  from embeddings
),
p as ({_sign_bits_sql('dup')}
),
eb0 as (
  select vec_id, embedding::DOUBLE[] as ev,
         array_to_string(list_transform(embedding[1:(select bits from p)],
           x -> case when x >= 0 then '1' else '0' end), '') as bucket
  from dup
),
eb as (
  select vec_id, ev, bucket from eb0
  qualify count(*) over (partition by bucket) <= {SIGN_LSH_MAX_BUCKET}
)
select l.vec_id as a, r.vec_id as b,
       round(list_dot_product(l.ev, r.ev)
             / (sqrt(list_dot_product(l.ev, l.ev))
                * sqrt(list_dot_product(r.ev, r.ev))), 6) as cos_sim
from eb l join eb r using (bucket)
where l.vec_id < r.vec_id
  and round(list_dot_product(l.ev, r.ev)
            / (sqrt(list_dot_product(l.ev, l.ev))
               * sqrt(list_dot_product(r.ev, r.ev))), 6) >= 0.9
"""


def q_embedding_centroids(spark, sf_dir):
    """Per-label centroid (the IVF coarse-quantizer build step):
    element-wise mean via posexplode → groupBy, all JVM-side."""
    e = _load(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_v"))
        .filter(F.col("dim") < 8)
        .orderBy("label", "dim")
    )


O_CENTROIDS = """
select label, dim - 1 as dim, round(avg(v::DOUBLE), 6) as mean_v
from (select label, unnest(embedding) as v,
             generate_subscripts(embedding, 1) as dim
      from embeddings)
where dim - 1 < 8
group by label, dim order by label, dim
"""


def q_ann_ivf_probe(spark, sf_dir, nprobe: int = 2):
    """IVF-style ANN: per-label centroids are the coarse quantizer; the
    query probes its ``nprobe`` nearest cells (default 2) and
    brute-forces only inside them — the candidate set shrinks by
    |cells|/nprobe, and at scale the cell id becomes the partition key.
    ``nprobe`` is the recall-vs-cost lever (swept with a measured
    recall@10 curve in tests/test_plans.py).  Fully JVM-side
    (posexplode + groupBy for the centroid build, zip_with/aggregate
    cosine)."""
    e = _load(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, m))),"
                " x -> x.m)"
            ).alias("centroid")
        )
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    probed = (
        cent.crossJoin(F.broadcast(q))
        .withColumn("cdist", F.round(F.expr(_cosine_expr("centroid", "qv")), 6))
        .orderBy(F.desc("cdist"), F.asc("label"))
        .limit(nprobe)
        .select("label")
    )
    cands = e.join(F.broadcast(probed), "label").filter(F.col("vec_id") != 0)
    scored = cands.crossJoin(F.broadcast(q)).withColumn(
        "cos_sim", F.round(F.expr(_cosine_expr("embedding", "qv")), 6)
    )
    return _ranked_topk(scored, ["label", "vec_id", "cos_sim", "rnk"], k=10)


O_ANN_IVF = """
with cent as (
  select label, list(m order by dim) as centroid from (
    select label, dim, avg(v::DOUBLE) as m
    from (select label, unnest(embedding) as v,
                 generate_subscripts(embedding, 1) as dim
          from embeddings)
    group by label, dim
  ) group by label
),
q as (select embedding::DOUBLE[] as qv from embeddings where vec_id = 0),
probed as (
  select label from cent, q
  order by round(list_dot_product(centroid, qv)
        / (sqrt(list_dot_product(centroid, centroid))
           * sqrt(list_dot_product(qv, qv))), 6) desc, label asc
  limit 2
),
scored as (
  select e.label, e.vec_id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) as cos_sim
  from embeddings e join probed using (label), q
  where e.vec_id <> 0
)
select label, vec_id, cos_sim, rnk from (
  select label, vec_id, cos_sim,
         row_number() over (order by cos_sim desc, vec_id asc) as rnk
  from scored
) where rnk <= 10
"""


#: trained-IVF hyperparameters — k cells, L Lloyd iterations.  Small and
#: FIXED so the oracle can mirror the iteration chain as CTEs.
IVF_K = 8
IVF_ITERS = 2


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF with a TRAINED coarse quantizer: deterministic k-means —
    init = the IVF_K lowest vec_ids, then IVF_ITERS Lloyd rounds
    (assign by rounded cosine, tie → lowest cell id; update = per-dim
    mean) — then assign all vectors to the trained cells, probe the
    query's 2 nearest cells, brute-force inside them.  All JVM-side:
    per-round assignment is a broadcast cross-join against the k-row
    centroid frame + max_by, update is posexplode + avg.  At scale the
    trained cell id becomes the partition key and rounds stay
    O(corpus · k) map-side work; the oracle replays the identical
    iteration chain in SQL."""
    from pyspark.sql import Window

    from ..functions.barrier import reliable_ckpt

    e = _load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    e = reliable_ckpt(e)  # scanned 2·ITERS+2 times across the rounds
    cents = e.orderBy("vec_id").limit(IVF_K).select(
        (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),
        F.expr("transform(embedding, x -> cast(x as double))").alias(
            "centroid"),
    )

    def assign(vectors, cents_df):
        scored = vectors.crossJoin(F.broadcast(cents_df)).withColumn(
            "sim", F.round(F.expr(_cosine_expr("embedding", "centroid")), 6)
        )
        return scored.groupBy("vec_id").agg(
            F.max_by(
                "cid", F.struct(F.col("sim"), (-F.col("cid")).alias("nc"))
            ).alias("cid"),
            F.max_by(
                "embedding",
                F.struct(F.col("sim"), (-F.col("cid")).alias("nc")),
            ).alias("embedding"),
        )

    for _ in range(IVF_ITERS):
        assigned = assign(e, cents)
        cents = (
            assigned.select("cid", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("cid", "dim")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .groupBy("cid")
            .agg(F.expr(
                "transform(array_sort(collect_list(struct(dim, m))),"
                " x -> x.m)"
            ).alias("centroid"))
        )
        cents = reliable_ckpt(cents)
    cells = assign(e, cents)

    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    probed = (
        cents.crossJoin(F.broadcast(q))
        .withColumn("cdist",
                    F.round(F.expr(_cosine_expr("centroid", "qv")), 6))
        .orderBy(F.desc("cdist"), F.asc("cid"))
        .limit(2)
        .select("cid")
    )
    cands = cells.join(F.broadcast(probed), "cid").filter(
        F.col("vec_id") != 0
    )
    scored = cands.crossJoin(F.broadcast(q)).withColumn(
        "cos_sim", F.round(F.expr(_cosine_expr("embedding", "qv")), 6)
    )
    return _ranked_topk(scored, ["cid", "vec_id", "cos_sim", "rnk"], k=10)


def _ivf_cos_sql(a: str, b: str) -> str:
    return (f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)")


def _ivf_assign_sql(cents: str, out: str) -> str:
    return f"""
{out} as (
  select vec_id, ev, cid from (
    select e.vec_id, e.ev, c.cid,
           row_number() over (partition by e.vec_id
             order by {_ivf_cos_sql('e.ev', 'c.centroid')} desc, c.cid asc) as rn
    from ev e cross join {cents} c
  ) where rn = 1
)"""


def _ivf_update_sql(assigned: str, out: str) -> str:
    return f"""
{out} as (
  select cid, list(m order by dim) as centroid from (
    select cid, dim, avg(v) as m from (
      select cid, unnest(ev) as v, generate_subscripts(ev, 1) as dim
      from {assigned}
    ) group by cid, dim
  ) group by cid
)"""


O_ANN_IVF_KMEANS = f"""
with ev as (select vec_id, embedding::DOUBLE[] as ev from embeddings),
c0 as (
  select row_number() over (order by vec_id) - 1 as cid, ev as centroid
  from ev order by vec_id limit {IVF_K}
),
{_ivf_assign_sql('c0', 'a1')},
{_ivf_update_sql('a1', 'c1')},
{_ivf_assign_sql('c1', 'a2')},
{_ivf_update_sql('a2', 'c2')},
{_ivf_assign_sql('c2', 'cells')},
q as (select ev as qv from ev where vec_id = 0),
probed as (
  select cid from c2, q
  order by {_ivf_cos_sql('centroid', 'qv')} desc, cid asc limit 2
),
scored as (
  select cells.cid, cells.vec_id,
         {_ivf_cos_sql('cells.ev', 'q.qv')} as cos_sim
  from cells join probed using (cid), q
  where cells.vec_id <> 0
)
select cid, vec_id, cos_sim, rnk from (
  select cid, vec_id, cos_sim,
         row_number() over (order by cos_sim desc, vec_id asc) as rnk
  from scored
) where rnk <= 10
"""


def q_ann_multiprobe(spark, sf_dir):
    """Multi-probe sign-LSH ANN: every vector hashes to ONE sign bucket
    (corpus-size-derived bit-width); the query probes its own bucket
    plus all Hamming-1 neighbours (bits+1 buckets) and brute-forces
    only inside them — recall recovers most of what single-bucket LSH
    loses at ~(bits+1)/2^bits of the brute-force cost.  At 10^12
    vectors the bit-width scales up automatically (more, smaller
    buckets) and the probe list stays an O(bits) broadcast.  Top-k via
    TakeOrderedAndProject (no corpus-wide window)."""
    e = _load(spark, sf_dir, "embeddings")
    n_bits = _sign_lsh_bits(e.count())
    eb = e.select("vec_id", "embedding",
                  _sign_bucket_expr(n_bits).alias("bucket"))
    q = eb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qb")
    )
    probes = q.select(
        "qv",
        F.explode(F.expr(
            f"transform(sequence(0, {n_bits}), i -> case when i = 0 then qb"
            " else concat(substring(qb, 1, i - 1),"
            " case when substring(qb, i, 1) = '0' then '1' else '0' end,"
            f" substring(qb, i + 1, {n_bits} - i)) end)"
        )).alias("bucket"),
    )
    scored = (
        eb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probes), "bucket")
        .withColumn("cos_sim", F.round(F.expr(_cosine_expr("embedding", "qv")), 6))
        .select("vec_id", "cos_sim")
    )
    return _ranked_topk(scored, ["vec_id", "cos_sim", "rnk"], k=10)


O_ANN_MULTIPROBE = f"""
with p as ({_sign_bits_sql('embeddings')}
),
eb as (
  select vec_id, embedding::DOUBLE[] as ev,
         array_to_string(list_transform(embedding[1:(select bits from p)],
           x -> case when x >= 0 then '1' else '0' end), '') as bucket
  from embeddings
),
q as (select ev as qv, bucket as qb from eb where vec_id = 0),
probes as (
  -- p joined in as a row column: DuckDB lambdas can capture columns
  -- but not scalar subqueries
  select distinct unnest(list_transform(
    generate_series(0, p.bits),
    i -> case when i = 0 then qb
         else substring(qb, 1, i - 1)
              || (case when substring(qb, i, 1) = '0' then '1' else '0' end)
              || substring(qb, i + 1, p.bits - i) end)) as bucket
  from q, p
),
scored as (
  select e.vec_id,
         round(list_dot_product(e.ev, q.qv)
               / (sqrt(list_dot_product(e.ev, e.ev))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) as cos_sim
  from eb e join probes using (bucket), q
  where e.vec_id <> 0
)
select vec_id, cos_sim, rnk from (
  select vec_id, cos_sim,
         row_number() over (order by cos_sim desc, vec_id asc) as rnk
  from scored
) where rnk <= 10
"""


# ---------------------------------------------------------------------------
# KG pipeline queries (drive the real UDF path; oracle reconstructs in SQL)
# ---------------------------------------------------------------------------
# (KG_DOC_LIMIT is defined before q_run_stats, which also builds a
# constructed-pages corpus)


def _kg_pages(spark, sf_dir):
    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < KG_DOC_LIMIT)
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'),
        F.expr(_kg_json_sql(False)),
        F.lit("</script></head><body>decoy</body></html>"),
    )
    return d.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/doc/"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def q_kg_extract_mill(spark, sf_dir):
    """End-to-end: constructed pages → extract UDF → fix/normalize UDF →
    mill UDF → (subject, predicate, object).  The oracle builds the same
    triples by string construction — an engine-independent check of the
    whole extraction/expansion/emission path."""
    from ..operators.stages import extract_stage, mill_stage, normalize_stage, with_source

    pages = _kg_pages(spark, sf_dir)
    blocks = extract_stage(with_source(pages, None))
    docs = normalize_stage(blocks).filter(F.col("valid"))
    triples = mill_stage(docs, bucket="gleaner")
    return triples.select("subject", "predicate", "object")


O_KG_EXTRACT_MILL = f"""
with d as (select doc_id, source, lang from documents where doc_id < {KG_DOC_LIMIT}),
ids as (select concat('<https://example.org/doc/', cast(doc_id as varchar), '>') as s,
               doc_id, source, lang from d)
select s as subject,
       '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' as predicate,
       '<https://schema.org/Dataset>' as object from ids
union all
select s, '<https://schema.org/name>',
       concat('"Doc ', cast(doc_id as varchar), '"') from ids
union all
select s, '<https://schema.org/about>', concat('"', source, '"') from ids
union all
select s, '<https://schema.org/inLanguage>', concat('"', lang, '"') from ids
"""


def q_gdrive_scan(spark, sf_dir):
    """S8 equivalent: drive-type source — page-token-chained folder
    listing (GetFileList's nextPageToken loop, googledrive.go:169-220)
    over listing tables, then per-file ingestion through the shared
    normalize path.  Per source the chain is '' → t1 → t2; an ORPHAN
    page t9 (dangling token from an aborted listing) carries decoy
    files that must be excluded.  Verified value-level via the
    URDNA2015 canonical sha256 per file."""
    from ..operators.stages import normalize_stage
    from ..sources.gdrive import drive_blocks, drive_file_list

    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < KG_DOC_LIMIT)
    srcs = d.select("source").distinct()
    listing = srcs.select(
        "source",
        F.explode(
            F.array(
                F.struct(F.lit("").alias("page_token"),
                         F.lit("t1").alias("next_page_token")),
                F.struct(F.lit("t1").alias("page_token"),
                         F.lit("t2").alias("next_page_token")),
                F.struct(F.lit("t2").alias("page_token"),
                         F.lit(None).cast("string").alias("next_page_token")),
                # orphan chain fragment — unreachable from the root
                F.struct(F.lit("t9").alias("page_token"),
                         F.lit(None).cast("string").alias("next_page_token")),
            )
        ).alias("p"),
    ).select("source", "p.page_token", "p.next_page_token")
    page_of = F.element_at(
        F.array(F.lit(""), F.lit("t1"), F.lit("t2")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    real_files = d.select(
        "source", page_of.alias("page_token"),
        F.concat(F.lit("f"), F.col("doc_id")).alias("file_id"),
        F.concat(F.lit("doc "), F.col("doc_id")).alias("name"),
    )
    orphan_files = d.filter(F.col("doc_id") % 10 == 0).select(
        "source", F.lit("t9").alias("page_token"),
        F.concat(F.lit("orphan"), F.col("doc_id")).alias("file_id"),
        F.concat(F.lit("stale "), F.col("doc_id")).alias("name"),
    )
    files = real_files.unionByName(orphan_files)
    bodies = d.select(
        "source", F.concat(F.lit("f"), F.col("doc_id")).alias("file_id"),
        F.expr(_kg_json_sql(False)).alias("body"),
    ).unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            "source",
            F.concat(F.lit("orphan"), F.col("doc_id")).alias("file_id"),
            F.expr(_kg_json_sql(False)).alias("body"),
        )
    )
    found = drive_file_list(listing, files)
    blocks = drive_blocks(found, bodies, fixcontextoption="strict")
    docs = normalize_stage(blocks).filter(F.col("valid"))
    return docs.select(
        "source",
        F.regexp_extract("url", r"/(f\d+)$", 1).alias("file_id"),
        "norm_sha256",
    )


O_GDRIVE_SCAN = f"""
with d as (select doc_id, source, lang from documents where doc_id < {KG_DOC_LIMIT}),
built as (
  select doc_id, source, lang,
    concat('<https://example.org/doc/', cast(doc_id as varchar), '>') as s
  from d
)
select source, concat('f', cast(doc_id as varchar)) as file_id,
       sha256(concat(
         s, ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://schema.org/Dataset> .', chr(10),
         s, ' <https://schema.org/about> "', source, '" .', chr(10),
         s, ' <https://schema.org/inLanguage> "', lang, '" .', chr(10),
         s, ' <https://schema.org/name> "Doc ', cast(doc_id as varchar), '" .', chr(10)
       )) as norm_sha256
from built
"""


def q_kg_js_inline_recover(spark, sf_dir):
    """S5 headless-gap fallback: pages whose JSON-LD lives in PLAIN
    <script> JS — an object-literal assignment (doc_id%7==0), a
    JSON.parse('...') payload (%7==1), a document.write of a
    '+'-CONCATENATED ld+json tag with the split '</scr'+'ipt>' closer
    (%7==2), the SAME doc twice (object literal + differently-spaced
    string payload) proving parsed-level dedup keeps one (%7==3), a
    normal static ld+json tag as the control (%7==4), single-assignment
    VARIABLE INDIRECTION in the concat chain (%7==5), or a TEMPLATE
    LITERAL with ${name} interpolation (%7==6) — all flow
    through the SAME extract → normalize path; recovered docs carry
    via='js_inline'.  The reference reaches the non-static shapes only
    by rendering in headless Chrome (headlessNG.go:302-349).  Verified
    value-level via the URDNA2015 canonical sha256 per doc (same
    construction as kg_graph_urn's oracle)."""
    from ..operators.stages import extract_stage, normalize_stage, with_source

    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < KG_DOC_LIMIT)
    doc_json = F.expr(_kg_json_sql(False))
    json_a = F.substring(doc_json, 1, 30)
    json_b = F.substring(doc_json, 31, 1_000_000)
    # parsed-equal, text-different copy: space injected after '{'
    doc_json_spaced = F.concat(F.lit("{ "),
                               F.substring(doc_json, 2, 1_000_000))
    html = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit("<html><head><script type=\"text/javascript\">"
                      "var page = 1; var schemaData = "),
                doc_json,
                F.lit("; render(schemaData);</script></head>"
                      "<body>decoy</body></html>"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 1,
            F.concat(
                F.lit("<html><head><script>var p = JSON.parse('"),
                doc_json,
                F.lit("');</script></head><body>decoy</body></html>"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 2,
            F.concat(
                F.lit("<html><head><script>document.write("
                      "'<script type=\"application/ld+json\">' + '"),
                json_a, F.lit("' + '"), json_b,
                F.lit("' + '</scr' + 'ipt>');</script></head>"
                      "<body>decoy</body></html>"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 3,
            F.concat(
                F.lit("<html><head><script>var a = "),
                doc_json,
                F.lit("; use(a);</script><script>var b = JSON.parse('"),
                doc_json_spaced,
                F.lit("');</script></head><body>decoy</body></html>"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 4,
            F.concat(
                F.lit('<html><head><script type="application/ld+json">'),
                doc_json,
                F.lit("</script></head><body>decoy</body></html>"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 5,
            F.concat(
                F.lit("<html><head><script>var p1 = '"), json_a,
                F.lit("';\nvar p2 = '"), json_b,
                F.lit("';\ndocument.write("
                      "'<script type=\"application/ld+json\">'"
                      " + p1 + p2 + '</scr' + 'ipt>');</script></head>"
                      "<body>decoy</body></html>"),
            ),
        )
        .otherwise(
            # %7==6: template literal with ${name} interpolation
            F.concat(
                F.lit("<html><head><script>var jd = '"), doc_json,
                F.lit("';\nvar tag = `<script type=\"application/ld+json\">"
                      "${jd}</scr` + 'ipt>';\n"
                      "document.body.insertAdjacentHTML('beforeend', tag);"
                      "</script></head><body>decoy</body></html>"),
            )
        )
    )
    pages = d.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/jsdoc/"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.col("text"), F.col("lang"),
    )
    blocks = extract_stage(with_source(pages, None))
    docs = normalize_stage(blocks).filter(F.col("valid"))
    return docs.select(
        F.regexp_extract("url", r"/jsdoc/(\d+)$", 1).cast("bigint").alias("doc_id"),
        "via",
        F.col("norm_sha256").alias("graph_sha256"),
    )


O_KG_JS_RECOVER = f"""
with d as (select doc_id, source, lang from documents where doc_id < {KG_DOC_LIMIT}),
built as (
  select doc_id,
    concat('<https://example.org/doc/', cast(doc_id as varchar), '>') as s,
    case when doc_id % 7 = 4 then 'static' else 'js_inline' end as via,
    source, lang from d
)
select doc_id, via, sha256(concat(
  s, ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://schema.org/Dataset> .', chr(10),
  s, ' <https://schema.org/about> "', source, '" .', chr(10),
  s, ' <https://schema.org/inLanguage> "', lang, '" .', chr(10),
  s, ' <https://schema.org/name> "Doc ', cast(doc_id as varchar), '" .', chr(10)
)) as graph_sha256
from built
"""


#: big-sitegraph filler size — over core.process.MAX_NORMALIZE_BYTES
#: (2 MiB) so the skip-normalize → filesha fallback actually fires
_SITEGRAPH_BIG_BYTES = 2_200_000


def q_sitegraph_scan(spark, sf_dir):
    """S6: sitegraph ingestion — one whole JSON-LD graph per source fed
    straight into the shared normalize path (sitegraph.go:24-131).  Per
    source TWO rows: a normal-size graph (URDNA2015-normalized ids) and
    a >MAX_NORMALIZE_BYTES graph proving the reference's "Don't
    normalize big files" fallback (sitegraph.go:50): the oracle expects
    sha256(canonical n-quads) for the small rows and sha256(raw body)
    for the big ones — a regression in the skip-normalize gate flips the
    hash class and fails the compare.  Strict fix mode keeps the body
    byte-identical through fix-up so the oracle can reconstruct it."""
    from ..operators.stages import normalize_stage
    from ..sources.sitegraph import sitegraph_blocks

    srcs = _load(spark, sf_dir, "documents").select("source").distinct()
    body_small = F.concat(
        F.lit('{"@context": {"@vocab": "https://schema.org/"}, "@id": '
              '"https://example.org/sg/'),
        F.col("source"),
        F.lit('", "@type": "Dataset", "name": "Sitegraph '),
        F.col("source"),
        F.lit('", "about": "'),
        F.col("source"),
        F.lit('"}'),
    )
    small = srcs.select(
        "source",
        F.concat(F.lit("https://"), "source",
                 F.lit(".example.org/sitegraph.jsonld")).alias("url"),
        body_small.alias("body"),
    )
    # big body = '{' + the oversized description + the small body's tail
    big_body = F.concat(
        F.substring(body_small, 1, 1),
        F.expr(f"concat('\"description\": \"', repeat('x', "
               f"{_SITEGRAPH_BIG_BYTES}), '\", ')"),
        F.substring(body_small, 2, 10_000_000),
    )
    big = srcs.select(
        "source",
        F.concat(F.lit("https://"), "source",
                 F.lit(".example.org/sitegraph_big.jsonld")).alias("url"),
        big_body.alias("body"),
    )
    blocks = sitegraph_blocks(
        small.unionByName(big),
        identifiertype="normalizedjsonsha",
        fixcontextoption="strict",
    )
    docs = normalize_stage(blocks).filter(F.col("valid"))
    return docs.select(
        "source", "url", "norm_sha256", "id_type",
        F.size("quads").alias("n_triples"),
    )


O_SITEGRAPH = f"""
with s as (select distinct source from documents),
small as (
  select source,
    concat('https://', source, '.example.org/sitegraph.jsonld') as url,
    concat('<https://example.org/sg/', source, '>') as subj
  from s
),
big as (
  select source,
    concat('https://', source, '.example.org/sitegraph_big.jsonld') as url,
    concat('{{', '"description": "', repeat('x', {_SITEGRAPH_BIG_BYTES}), '", ',
           '"@context": {{"@vocab": "https://schema.org/"}}, "@id": ',
           '"https://example.org/sg/', source, '", "@type": "Dataset", ',
           '"name": "Sitegraph ', source, '", "about": "', source, '"}}') as body
  from s
)
select source, url,
       sha256(concat(
         subj, ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://schema.org/Dataset> .', chr(10),
         subj, ' <https://schema.org/about> "', source, '" .', chr(10),
         subj, ' <https://schema.org/name> "Sitegraph ', source, '" .', chr(10)
       )) as norm_sha256,
       'jsonsha' as id_type, 3::INT as n_triples
from small
union all
select source, url, sha256(body) as norm_sha256,
       'jsonsha' as id_type, 4::INT as n_triples
from big
"""


def q_kg_microdata_rdfa(spark, sf_dir):
    """Microdata + RDFa Lite extraction (core/structured.py) over four
    constructed page classes: flat microdata with itemid/meta/href value
    kinds (doc_id%4==0), nested microdata item + itemref external
    subtree (%4==1), RDFa Lite with vocab/typeof/resource/content
    (%4==2), and a MIXED page — a microdata Article plus an RDFa Article
    with property+typeof chaining and a @prefix CURIE (%4==3).

    Beyond reference parity: the Go harvest is JSON-LD-script-only
    (acquire.go:216-252); the north-star extraction surface names
    microdata/RDFa.  The UDF is one Arrow-vectorized projection + an
    explode — no shuffle; at 100 TB this runs embarrassingly parallel at
    scan parallelism, like the JSON-LD extract stage it sits beside."""
    from ..functions.udfs import structured_triples_udf

    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < KG_DOC_LIMIT)
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.org/doc/"), F.col("doc_id"))
    iri = F.concat(F.lit("https://example.org/doc/"), F.col("doc_id"))
    name = F.concat(F.lit("Doc "), F.col("doc_id"))
    html = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<html><body><div itemscope'
                      ' itemtype="https://schema.org/Dataset" itemid="'),
                iri, F.lit('"><span itemprop="name">'), name,
                F.lit('</span><meta itemprop="about" content="'),
                F.col("source"),
                F.lit('"><a itemprop="url" href="'), url,
                F.lit('">link</a></div></body></html>'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit('<html><body><div itemscope'
                      ' itemtype="https://schema.org/Dataset" itemref="x'),
                F.col("doc_id"),
                F.lit('"><span itemprop="name">'), name,
                F.lit('</span><div itemprop="creator" itemscope'
                      ' itemtype="https://schema.org/Person">'
                      '<span itemprop="name">Author '),
                F.col("doc_id") % 7,
                F.lit('</span></div></div><meta id="x'), F.col("doc_id"),
                F.lit('" itemprop="inLanguage" content="'), F.col("lang"),
                F.lit('"></body></html>'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit('<html><body><div vocab="https://schema.org/"'
                      ' typeof="Dataset" resource="'),
                iri, F.lit('"><span property="name">'), name,
                F.lit('</span><meta property="version" content="v'),
                F.col("doc_id") % 5,
                F.lit('"><a property="url" href="'), url,
                F.lit('">link</a></div></body></html>'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('<html><body><div itemscope'
                      ' itemtype="https://schema.org/Article">'
                      '<span itemprop="headline">H '),
                F.col("doc_id"),
                F.lit('</span></div>'
                      '<div prefix="ex: https://ex.org/ns#"'
                      ' vocab="https://schema.org/" typeof="Article"'
                      ' resource="'),
                iri,
                F.lit('"><div property="author" typeof="Person">'
                      '<span property="name">A '),
                F.col("doc_id") % 7,
                F.lit('</span></div><span property="ex:tag">t'),
                F.col("doc_id") % 3,
                F.lit('</span></div></body></html>'),
            ),
        )
    )
    pages = d.select(url.alias("url"), html.cast("binary").alias("html"))
    return pages.select(
        "url",
        F.explode(structured_triples_udf("html")).alias("t"),
    ).select("url", "t.subject", "t.predicate", "t.object", "t.syntax")


_RDF_TYPE_SQL = "'<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'"

O_KG_MICRODATA_RDFA = f"""
with d as (select doc_id, source, lang from documents
           where doc_id < {KG_DOC_LIMIT}),
b as (select doc_id, source, lang,
        concat('https://', source, '.example.org/doc/',
               cast(doc_id as varchar)) as url,
        concat('<https://example.org/doc/', cast(doc_id as varchar), '>') as s,
        concat('"Doc ', cast(doc_id as varchar), '"') as qname
      from d)
-- class 0: flat microdata with itemid
select url, s as subject, {_RDF_TYPE_SQL} as predicate,
       '<https://schema.org/Dataset>' as object, 'microdata' as syntax
  from b where doc_id % 4 = 0
union all
select url, s, '<https://schema.org/name>', qname, 'microdata'
  from b where doc_id % 4 = 0
union all
select url, s, '<https://schema.org/about>', concat('"', source, '"'),
       'microdata' from b where doc_id % 4 = 0
union all
select url, s, '<https://schema.org/url>', concat('<', url, '>'),
       'microdata' from b where doc_id % 4 = 0
-- class 1: nested item + itemref (blank-node subjects)
union all
select url, '_:md0', {_RDF_TYPE_SQL}, '<https://schema.org/Dataset>',
       'microdata' from b where doc_id % 4 = 1
union all
select url, '_:md0', '<https://schema.org/name>', qname, 'microdata'
  from b where doc_id % 4 = 1
union all
select url, '_:md0', '<https://schema.org/creator>', '_:md1', 'microdata'
  from b where doc_id % 4 = 1
union all
select url, '_:md0', '<https://schema.org/inLanguage>',
       concat('"', lang, '"'), 'microdata' from b where doc_id % 4 = 1
union all
select url, '_:md1', {_RDF_TYPE_SQL}, '<https://schema.org/Person>',
       'microdata' from b where doc_id % 4 = 1
union all
select url, '_:md1', '<https://schema.org/name>',
       concat('"Author ', cast(doc_id % 7 as varchar), '"'), 'microdata'
  from b where doc_id % 4 = 1
-- class 2: RDFa Lite with resource subject
union all
select url, s, {_RDF_TYPE_SQL}, '<https://schema.org/Dataset>', 'rdfa'
  from b where doc_id % 4 = 2
union all
select url, s, '<https://schema.org/name>', qname, 'rdfa'
  from b where doc_id % 4 = 2
union all
select url, s, '<https://schema.org/version>',
       concat('"v', cast(doc_id % 5 as varchar), '"'), 'rdfa'
  from b where doc_id % 4 = 2
union all
select url, s, '<https://schema.org/url>', concat('<', url, '>'), 'rdfa'
  from b where doc_id % 4 = 2
-- class 3: mixed microdata + RDFa chaining with a CURIE
union all
select url, '_:md0', {_RDF_TYPE_SQL}, '<https://schema.org/Article>',
       'microdata' from b where doc_id % 4 = 3
union all
select url, '_:md0', '<https://schema.org/headline>',
       concat('"H ', cast(doc_id as varchar), '"'), 'microdata'
  from b where doc_id % 4 = 3
union all
select url, s, {_RDF_TYPE_SQL}, '<https://schema.org/Article>', 'rdfa'
  from b where doc_id % 4 = 3
union all
select url, s, '<https://schema.org/author>', '_:ra0', 'rdfa'
  from b where doc_id % 4 = 3
union all
select url, '_:ra0', {_RDF_TYPE_SQL}, '<https://schema.org/Person>', 'rdfa'
  from b where doc_id % 4 = 3
union all
select url, '_:ra0', '<https://schema.org/name>',
       concat('"A ', cast(doc_id % 7 as varchar), '"'), 'rdfa'
  from b where doc_id % 4 = 3
union all
select url, s, '<https://ex.org/ns#tag>',
       concat('"t', cast(doc_id % 3 as varchar), '"'), 'rdfa'
  from b where doc_id % 4 = 3
"""


def q_kg_graph_urn(spark, sf_dir):
    """URDNA2015 + SHA-256 graph id, oracled by constructing the
    canonical n-quads (known sorted line order for this doc shape) and
    sha256-ing them in SQL."""
    from ..operators.stages import extract_stage, normalize_stage, with_source

    pages = _kg_pages(spark, sf_dir)
    blocks = extract_stage(with_source(pages, None))
    docs = normalize_stage(blocks).filter(F.col("valid"))
    return docs.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint").alias("doc_id"),
        F.col("norm_sha256").alias("graph_sha256"),
    )


O_KG_GRAPH_URN = f"""
with d as (select doc_id, source, lang from documents where doc_id < {KG_DOC_LIMIT}),
built as (
  select doc_id,
    concat('<https://example.org/doc/', cast(doc_id as varchar), '>') as s,
    source, lang from d
)
select doc_id, sha256(concat(
  s, ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://schema.org/Dataset> .', chr(10),
  s, ' <https://schema.org/about> "', source, '" .', chr(10),
  s, ' <https://schema.org/inLanguage> "', lang, '" .', chr(10),
  s, ' <https://schema.org/name> "Doc ', cast(doc_id as varchar), '" .', chr(10)
)) as graph_sha256
from built
"""


def q_entity_cc(spark, sf_dir):
    """Connected components over a deterministic graph derived from
    documents (star-of-10 + decade chains), oracled by a DuckDB
    recursive CTE — validates the iterative-self-join CC operator."""
    from ..operators.link import connected_components

    d = _load(spark, sf_dir, "documents").select("doc_id")
    star = d.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("a"),
        (F.col("doc_id") - F.col("doc_id") % 10).alias("b"),
    )
    chain = d.filter(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") % 100 != 0)
    ).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") - 10).alias("b")
    )
    edges = star.unionByName(chain)
    return connected_components(edges).select(
        F.col("entity").alias("node"), F.col("component").alias("component")
    )


O_ENTITY_CC = """
with edges_raw as (
  select doc_id as a, doc_id - (doc_id % 10) as b from documents where doc_id % 10 <> 0
  union all
  select doc_id as a, doc_id - 10 as b from documents
  where doc_id % 10 = 0 and doc_id % 100 <> 0
),
edges as (select a, b from edges_raw union select b, a from edges_raw),
nodes as (select distinct a as v from edges),
reach as (
  select v, v as u from nodes
  union
  select r.v, e.b as u from reach r join edges e on e.a = r.u
)
select v as node, min(u) as component from reach group by v
""".replace("with edges_raw", "with recursive edges_raw")


def q_kg_nquads_export(spark, sf_dir):
    """S12 byte-compat export: serialize (s,p,o,graph-as-nq-line) —
    the reference's results/{runid}/{source}_graph.nq body, one row per
    line, deterministically ordered (SURVEY.md J9: reference order is
    unspecified listing order; we sort)."""
    from ..operators.stages import extract_stage, mill_stage, normalize_stage, with_source

    pages = _kg_pages(spark, sf_dir)
    docs = normalize_stage(extract_stage(with_source(pages, None))).filter(
        F.col("valid")
    )
    triples = mill_stage(docs, bucket="gleaner")
    return triples.select(
        F.concat_ws(
            " ", "subject", "predicate", "object",
            F.concat(F.lit("<"), "graph", F.lit(">")), F.lit(".")
        ).alias("nq_line")
    )


O_KG_NQUADS = f"""
with d as (select doc_id, source, lang from documents where doc_id < {KG_DOC_LIMIT}),
ids as (select concat('<https://example.org/doc/', cast(doc_id as varchar), '>') as s,
               concat('<urn:gleaner:', source, '.example.org:',
                      sha256(concat(
  '<https://example.org/doc/', cast(doc_id as varchar), '>',
  ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://schema.org/Dataset> .', chr(10),
  '<https://example.org/doc/', cast(doc_id as varchar), '>',
  ' <https://schema.org/about> "', source, '" .', chr(10),
  '<https://example.org/doc/', cast(doc_id as varchar), '>',
  ' <https://schema.org/inLanguage> "', lang, '" .', chr(10),
  '<https://example.org/doc/', cast(doc_id as varchar), '>',
  ' <https://schema.org/name> "Doc ', cast(doc_id as varchar), '" .', chr(10))),
                      '>') as g,
               doc_id, source, lang from d)
select concat(s, ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://schema.org/Dataset> ', g, ' .') as nq_line from ids
union all
select concat(s, ' <https://schema.org/name> "Doc ', cast(doc_id as varchar), '" ', g, ' .') from ids
union all
select concat(s, ' <https://schema.org/about> "', source, '" ', g, ' .') from ids
union all
select concat(s, ' <https://schema.org/inLanguage> "', lang, '" ', g, ' .') from ids
"""


# The shapes graph driving kg_shape_validation — a real SHACL NodeShape
# document that flows through OUR OWN mill into triples, then through
# the relational shapes parser (operators/shacl.py): the reference's
# datagraph+shapegraph contract (tangramCall.go:121-180) with the shapes
# graph as a first-class input instead of hard-coded predicates.
KG_SHAPES_JSONLD = (
    '{"@context": {"sh": "http://www.w3.org/ns/shacl#",'
    ' "schema": "https://schema.org/"},'
    ' "@id": "https://example.org/shapes/DatasetShape",'
    ' "@type": "sh:NodeShape",'
    ' "sh:targetClass": {"@id": "schema:Dataset"},'
    ' "sh:property": ['
    '   {"sh:path": {"@id": "schema:name"}, "sh:minCount": 1},'
    '   {"sh:path": {"@id": "schema:inLanguage"}, "sh:minCount": 1}]}'
)


def q_kg_shape_validation(spark, sf_dir):
    """V1 (SHACL-lite): per-target shape conformance, driven by a parsed
    SHACL shapes graph (KG_SHAPES_JSONLD → mill → shapes parser →
    relational evaluation).  The reference POSTs datagraph+shapegraph to
    an external Tangram service per doc (tangramCall.go:121-180, disabled
    in its main path); per-doc engines don't vectorize, so conformance
    here is one distributed aggregation pass over the triples relation
    (operators/shacl.py)."""
    from ..core.mill import mill
    from ..operators.shacl import shape_conformance, shapes_from_triples
    from ..operators.stages import extract_stage, mill_stage, normalize_stage, with_source

    shapes = shapes_from_triples(
        [(r.subject, r.predicate, r.object)
         for r in mill(KG_SHAPES_JSONLD, "shapes", "")]
    )
    pages = _kg_pages(spark, sf_dir)
    docs = normalize_stage(extract_stage(with_source(pages, None))).filter(
        F.col("valid")
    )
    triples = mill_stage(docs, bucket="gleaner")
    return shape_conformance(
        triples.select("subject", "predicate", "object"), shapes
    ).select("subject", "conforms")


O_KG_SHAPE = f"""
with d as (select doc_id from documents where doc_id < {KG_DOC_LIMIT})
select concat('<https://example.org/doc/', cast(doc_id as varchar), '>') as subject,
       true as conforms
from d
"""


KG_REPORT_SHAPES_JSONLD = (
    '{"@context": {"sh": "http://www.w3.org/ns/shacl#",'
    ' "schema": "https://schema.org/"},'
    ' "@graph": ['
    ' {"@id": "https://example.org/shapes/ReportShape",'
    '  "@type": "sh:NodeShape",'
    '  "sh:targetClass": {"@id": "schema:Dataset"},'
    '  "sh:property": ['
    '   {"sh:path": {"@id": "schema:name"}, "sh:minCount": 1, "sh:maxCount": 1},'
    '   {"sh:path": {"@id": "schema:url"}, "sh:nodeKind": {"@id": "sh:IRI"}},'
    '   {"sh:path": {"@id": "schema:identifier"}, "sh:pattern": "^doi:"},'
    '   {"sh:path": {"@id": "schema:license"},'
    '    "sh:hasValue": {"@id": "https://example.org/license/CC0"}},'
    '   {"sh:path": {"@id": "schema:creator"}, "sh:class": {"@id": "schema:Person"},'
    '    "sh:node": {"@id": "https://example.org/shapes/PersonShape"}},'
    '   {"sh:path": {"@id": "schema:ref"}, "sh:or": ['
    '     {"sh:nodeKind": {"@id": "sh:IRI"}}, {"sh:pattern": "^ok:"}]},'
    '   {"sh:path": {"@id": "schema:funder"}, "sh:or": ['
    '     {"sh:pattern": "^fund:"},'
    '     {"sh:class": {"@id": "schema:Person"}}]}]},'
    ' {"@id": "https://example.org/shapes/PersonShape",'
    '  "@type": "sh:NodeShape",'
    '  "sh:property": ['
    '   {"sh:path": {"@id": "schema:name"}, "sh:minCount": 1}]}]}'
)


def q_kg_shape_report(spark, sf_dir):
    """V1 report shape: SHACL validation REPORT rows (focus_node,
    result_path, constraint_component) over a MIXED corpus with
    deliberate violations of every supported component — MinCount
    (doc_id%5==0: name missing), MaxCount (%7==0: second name),
    NodeKind (%4==0: literal url), Pattern (%6==0: identifier not
    ^doi:), HasValue (%3==0: CC0 license missing), Class (%8==0:
    creator not Person-typed), Node (%9==0: creator value fails the
    referenced target-less PersonShape's name minCount), Or (%11==0:
    ref value neither an IRI nor an ok:-literal).  The shapes graph
    itself carries sh:pattern/sh:hasValue/sh:node/sh:or and is parsed
    from milled SHACL JSON-LD — the reference's stored
    verification-report capability (shaclng.go:18-120) as one
    relational pass."""
    from ..core.mill import mill
    from ..operators.shacl import (
        shape_validation_report, shapes_index_from_triples,
    )

    idx = shapes_index_from_triples(
        [(r.subject, r.predicate, r.object)
         for r in mill(KG_REPORT_SHAPES_JSONLD, "shapes", "")]
    )
    shapes = [s for s in idx.values() if s.target_class]
    from ..functions.barrier import reliable_ckpt

    # barrier the 200-row doc-id list in ONE partition: the corpus below
    # unions 12 legs over it and the report reads the corpus in ~20
    # frames — without this, every leg re-scans the parquet and every
    # frame schedules a task per (leg × scan-split) near-empty partition
    # (~1000 sub-ms tasks of scheduling overhead for 2.2k rows).
    d = reliable_ckpt(
        _load(spark, sf_dir, "documents").filter(
            F.col("doc_id") < KG_DOC_LIMIT
        ).select("doc_id").coalesce(1)
    )
    did = F.col("doc_id").cast("string")
    s = F.concat(F.lit("<https://example.org/e/"), did, F.lit(">"))
    person = F.concat(F.lit("<https://example.org/p/"), did, F.lit(">"))

    def rows(df, subj, pred, obj):
        return df.select(subj.alias("subject"), F.lit(pred).alias("predicate"),
                         obj.alias("object") if not isinstance(obj, str)
                         else F.lit(obj).alias("object"))

    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    triples = (
        rows(d, s, rdf_type, "<https://schema.org/Dataset>")
        .unionByName(rows(
            d.filter(F.col("doc_id") % 5 != 0), s, "<https://schema.org/name>",
            F.concat(F.lit('"Name '), did, F.lit('"'))))
        .unionByName(rows(
            d.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)),
            s, "<https://schema.org/name>",
            F.concat(F.lit('"Name '), did, F.lit(' b"'))))
        .unionByName(rows(
            d, s, "<https://schema.org/url>",
            F.when(F.col("doc_id") % 4 == 0, F.lit('"not-an-iri"'))
            .otherwise(F.concat(F.lit("<https://ok.example/"), did, F.lit(">")))))
        .unionByName(rows(
            d, s, "<https://schema.org/identifier>",
            F.when(F.col("doc_id") % 6 == 0,
                   F.concat(F.lit('"bad-'), did, F.lit('"')))
            .otherwise(F.concat(F.lit('"doi:10.5/'), did, F.lit('"')))))
        .unionByName(rows(
            d.filter(F.col("doc_id") % 3 != 0), s,
            "<https://schema.org/license>",
            F.lit("<https://example.org/license/CC0>")))
        .unionByName(rows(d, s, "<https://schema.org/creator>", person))
        .unionByName(rows(
            d.filter(F.col("doc_id") % 8 != 0), person, rdf_type,
            "<https://schema.org/Person>"))
        .unionByName(rows(
            d.filter(F.col("doc_id") % 9 != 0), person,
            "<https://schema.org/name>",
            F.concat(F.lit('"Person '), did, F.lit('"'))))
        .unionByName(rows(
            d, s, "<https://schema.org/ref>",
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.lit('"nope-'), did, F.lit('"')))
            .when(F.col("doc_id") % 2 == 0,
                  F.concat(F.lit("<https://ref.example.org/"), did,
                           F.lit(">")))
            .otherwise(F.concat(F.lit('"ok:'), did, F.lit('"')))))
        # funder: SHAPE-VALUED sh:or (pattern OR sh:class Person) —
        # %10==0 docs fund via a "fund:" literal (pattern alt), the
        # rest via the person IRI, which is Person-typed only for
        # %8!=0 → %8==0 ∧ %10!=0 violates both alternatives
        .unionByName(rows(
            d, s, "<https://schema.org/funder>",
            F.when(F.col("doc_id") % 10 == 0,
                   F.concat(F.lit('"fund:x'), did, F.lit('"')))
            .otherwise(person)))
    )
    # the report evaluates one frame per (shape, constraint) — barrier
    # the 9-way-unioned corpus so it computes once, not per frame, and
    # as ONE partition (2.2k rows) so each frame is one task
    triples = reliable_ckpt(triples.coalesce(1))
    return shape_validation_report(triples, shapes, idx).select(
        "focus_node", "result_path", "constraint_component"
    )


O_KG_SHAPE_REPORT = f"""
with d as (select doc_id from documents where doc_id < {KG_DOC_LIMIT}),
e as (select doc_id,
             concat('<https://example.org/e/', cast(doc_id as varchar), '>') as f
      from d)
select f as focus_node, 'https://schema.org/name' as result_path,
       'http://www.w3.org/ns/shacl#MinCountConstraintComponent' as constraint_component
from e where doc_id % 5 = 0
union all
select f, 'https://schema.org/name',
       'http://www.w3.org/ns/shacl#MaxCountConstraintComponent'
from e where doc_id % 7 = 0 and doc_id % 5 <> 0
union all
select f, 'https://schema.org/url',
       'http://www.w3.org/ns/shacl#NodeKindConstraintComponent'
from e where doc_id % 4 = 0
union all
select f, 'https://schema.org/identifier',
       'http://www.w3.org/ns/shacl#PatternConstraintComponent'
from e where doc_id % 6 = 0
union all
select f, 'https://schema.org/license',
       'http://www.w3.org/ns/shacl#HasValueConstraintComponent'
from e where doc_id % 3 = 0
union all
select f, 'https://schema.org/creator',
       'http://www.w3.org/ns/shacl#ClassConstraintComponent'
from e where doc_id % 8 = 0
union all
select f, 'https://schema.org/creator',
       'http://www.w3.org/ns/shacl#NodeConstraintComponent'
from e where doc_id % 9 = 0
union all
select f, 'https://schema.org/ref',
       'http://www.w3.org/ns/shacl#OrConstraintComponent'
from e where doc_id % 11 = 0
union all
select f, 'https://schema.org/funder',
       'http://www.w3.org/ns/shacl#OrConstraintComponent'
from e where doc_id % 8 = 0 and doc_id % 10 <> 0
"""


def q_kg_prov(spark, sf_dir):
    """R5/J2: prov rows enriched from the sources dimension
    (PID/ProperName/Domain joined per prov.go:83-91) — the oracle
    reconstructs the expected enrichment per doc, and the
    ``org_name_in_json`` column proves the rendered PROV-O JSON-LD
    actually carries it (extracted back out with get_json_object)."""
    from ..operators.provenance import prov_lineage
    from ..operators.stages import extract_stage, normalize_stage, with_source

    pages = _kg_pages(spark, sf_dir)
    docs = normalize_stage(extract_stage(with_source(pages, None))).filter(
        F.col("valid")
    )
    dim = docs.select("source").distinct().select(
        F.col("source").alias("name"),
        F.concat(F.lit("https://pid.example.org/"), "source").alias("pid"),
        F.upper("source").alias("propername"),
        F.col("source").alias("domain"),
    )
    prov = prov_lineage(docs, dim, run_id="r-prov", bucket="gleaner")
    return prov.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint").alias("doc_id"),
        "pid", "propername", "domain", "graph_urn",
        F.get_json_object(
            "prov_jsonld", "$['@graph'][0]['rdf:name']"
        ).alias("org_name_in_json"),
    )


O_KG_PROV = f"""
with d as (select doc_id, source || '.example.org' as source, source as src0, lang
           from documents where doc_id < {KG_DOC_LIMIT})
select doc_id,
       'https://pid.example.org/' || source as pid,
       upper(source) as propername,
       source as domain,
       concat('urn:gleaner:', source, ':',
              sha256(concat(
  '<https://example.org/doc/', cast(doc_id as varchar), '>',
  ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://schema.org/Dataset> .', chr(10),
  '<https://example.org/doc/', cast(doc_id as varchar), '>',
  ' <https://schema.org/about> "', src0, '" .', chr(10),
  '<https://example.org/doc/', cast(doc_id as varchar), '>',
  ' <https://schema.org/inLanguage> "', lang, '" .', chr(10),
  '<https://example.org/doc/', cast(doc_id as varchar), '>',
  ' <https://schema.org/name> "Doc ', cast(doc_id as varchar), '" .', chr(10)))
       ) as graph_urn,
       upper(source) as org_name_in_json
from d
"""


def q_kg_remote_context(spark, sf_dir):
    """Registry-resolved remote context end-to-end: a strict-mode source
    (no context fix-ups, so the string @context survives to the
    processor) whose docs use the vendored deployment context
    (core/jsonld.DCTERMS_CONTEXT_URL).  Exercises prefix terms AND
    @type:@id coercion (license) through the registry; the oracle
    reconstructs the expected dcterms triples."""
    from ..core.jsonld import DCTERMS_CONTEXT_URL
    from ..operators.stages import mill_stage, normalize_stage

    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < KG_DOC_LIMIT)
    jsonld = F.concat(
        F.lit('{"@context": "' + DCTERMS_CONTEXT_URL + '", '
              '"@id": "https://example.org/rdoc/'),
        F.col("doc_id").cast("string"),
        F.lit('", "title": "Doc '),
        F.col("doc_id").cast("string"),
        F.lit('", "identifier": "'),
        F.col("doc_id").cast("string"),
        F.lit('", "license": "https://example.org/license/'),
        F.col("source"),
        F.lit('"}'),
    )
    blocks = d.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/rdoc/"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("source"),
        F.concat(F.col("source"), F.lit(".example.org")).alias("host"),
        F.col("lang"),
        F.lit("jsonsha").alias("identifiertype"),
        F.lit("").alias("identifierpath"),
        F.lit("strict").alias("fixcontextoption"),
        F.lit(0).alias("block_idx"),
        jsonld.alias("jsonld"),
        F.lit("static").alias("via"),
    )
    docs = normalize_stage(blocks).filter(F.col("valid"))
    triples = mill_stage(docs, bucket="gleaner")
    return triples.select("subject", "predicate", "object")


O_KG_REMOTE_CTX = f"""
with d as (select doc_id, source from documents where doc_id < {KG_DOC_LIMIT}),
ids as (select concat('<https://example.org/rdoc/', cast(doc_id as varchar), '>') as s,
               doc_id, source from d)
select s as subject, '<http://purl.org/dc/terms/title>' as predicate,
       concat('"Doc ', cast(doc_id as varchar), '"') as object from ids
union all
select s, '<http://purl.org/dc/terms/identifier>',
       concat('"', cast(doc_id as varchar), '"') from ids
union all
select s, '<http://purl.org/dc/terms/license>',
       concat('<https://example.org/license/', source, '>') from ids
"""


def q_kg_context_registry(spark, sf_dir):
    """Vendored PUBLIC remote contexts end-to-end (core/jsonld.py
    packaged assets): even docs use the W3C DCAT context
    (https://www.w3.org/ns/dcat.jsonld subset — prefix terms like
    ``title: dct:title`` plus @type:@id coercions), odd docs the
    CodeMeta 2.0 context (https://doi.org/10.5063/schema/codemeta-2.0
    subset — ``id``/``type`` keyword aliases, schema/codemeta prefixes,
    an @type:@id coercion AND a non-@id datatype coercion).  Strict fix
    mode keeps the string @context intact for registry resolution."""
    from ..operators.stages import mill_stage, normalize_stage

    d = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < KG_DOC_LIMIT)
    did = F.col("doc_id").cast("string")
    dcat = F.concat(
        F.lit('{"@context": "https://www.w3.org/ns/dcat.jsonld", '
              '"@id": "https://example.org/dcat/'), did,
        F.lit('", "@type": "Dataset", "title": "Doc '), did,
        F.lit('", "keyword": "'), F.col("source"),
        F.lit('", "downloadURL": "https://'), F.col("source"),
        F.lit(".example.org/dl/"), did, F.lit('.csv"}'),
    )
    codemeta = F.concat(
        F.lit('{"@context": "https://doi.org/10.5063/schema/codemeta-2.0", '
              '"id": "https://example.org/sw/'), did,
        F.lit('", "type": "SoftwareSourceCode", "name": "Doc '), did,
        F.lit('", "programmingLanguage": "'), F.col("lang"),
        F.lit('", "codeRepository": "https://'), F.col("source"),
        F.lit(".example.org/repo/"), did,
        F.lit('", "developmentStatus": "'), F.col("source"), F.lit('"}'),
    )
    jsonld = F.when(F.col("doc_id") % 2 == 0, dcat).otherwise(codemeta)
    blocks = d.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/ctxdoc/"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("source"),
        F.concat(F.col("source"), F.lit(".example.org")).alias("host"),
        F.col("lang"),
        F.lit("jsonsha").alias("identifiertype"),
        F.lit("").alias("identifierpath"),
        F.lit("strict").alias("fixcontextoption"),
        F.lit(0).alias("block_idx"),
        jsonld.alias("jsonld"),
        F.lit("static").alias("via"),
    )
    docs = normalize_stage(blocks).filter(F.col("valid"))
    triples = mill_stage(docs, bucket="gleaner")
    return triples.select("subject", "predicate", "object")


O_KG_CONTEXT_REGISTRY = f"""
with d as (select doc_id, source, lang from documents where doc_id < {KG_DOC_LIMIT}),
dcat as (select concat('<https://example.org/dcat/', cast(doc_id as varchar), '>') as s,
                doc_id, source from d where doc_id % 2 = 0),
cm as (select concat('<https://example.org/sw/', cast(doc_id as varchar), '>') as s,
              doc_id, source, lang from d where doc_id % 2 = 1)
select s as subject,
       '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' as predicate,
       '<http://www.w3.org/ns/dcat#Dataset>' as object from dcat
union all
select s, '<http://purl.org/dc/terms/title>',
       concat('"Doc ', cast(doc_id as varchar), '"') from dcat
union all
select s, '<http://www.w3.org/ns/dcat#keyword>',
       concat('"', source, '"') from dcat
union all
select s, '<http://www.w3.org/ns/dcat#downloadURL>',
       concat('<https://', source, '.example.org/dl/',
              cast(doc_id as varchar), '.csv>') from dcat
union all
select s, '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>',
       '<http://schema.org/SoftwareSourceCode>' from cm
union all
select s, '<http://schema.org/name>',
       concat('"Doc ', cast(doc_id as varchar), '"') from cm
union all
select s, '<http://schema.org/programmingLanguage>',
       concat('"', lang, '"') from cm
union all
select s, '<http://schema.org/codeRepository>',
       concat('<https://', source, '.example.org/repo/',
              cast(doc_id as varchar), '>') from cm
union all
select s, '<https://codemeta.github.io/terms/developmentStatus>',
       concat('"', source, '"') from cm
"""


# ---------------------------------------------------------------------------
# multimodal: binary payload metadata and codec-free decode
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    """Opaque-binary metadata path: payload size + content hash (the
    decode path is q_multimodal_decode_real)."""
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        F.md5(F.col("text").cast("binary")).alias("payload_md5"),
    )


O_MULTIMODAL_META = """
select doc_id, octet_length(text::BLOB) as n_bytes,
       md5(text) as payload_md5
from documents
"""


def q_multimodal_decode_real(spark, sf_dir):
    """REAL media decode, fully oracled (round-5 VERDICT #2): a table of
    genuine PPM / 24-bit BMP / PCM-WAV payload BYTES is decoded by the
    pure-struct parsers in operators/multimodal.py (no codec library
    needed for these container formats), emitting integer aggregates
    (dims, pixel count, Rec.709-integer luma sum; sample rate, frame
    count, abs-amplitude sum, duration).  The DuckDB oracle replays the
    fixture generator's closed arithmetic formulas — so a parser bug
    (padding, bottom-up rows, chunk walk, header tokenizing) breaks the
    hash.  Retires the registry's last no_oracle row."""
    from ..operators.multimodal import decode_media_real, gen_media_real

    media = gen_media_real(spark, 300, partitions=8)
    return decode_media_real(media, repartition_to=8)


O_MULTIMODAL_DECODE_REAL = """
with media as (select unnest(range(0, 300)) as i),
ppm as (select i, 8+(i%8)*4 as w, 8+(i%5)*4 as h from media where i%3 = 0),
ppm_agg as (
  select p.i, min(p.w) as w, min(p.h) as h, count(*) as n_units,
         cast(sum((2126*((p.i+3*s.j)%256) + 7152*((2*p.i+5*s.j)%256)
                   + 722*((7*p.i+11*s.j)%256)) // 10000) as bigint) as sum_val
  from ppm p, (select unnest(range(0, 1024)) as j) s
  where s.j < p.w*p.h group by p.i
),
bmp as (select i, 6+(i%6)*2 as w, 4+(i%4)*2 as h from media where i%3 = 1),
bmp_agg as (
  select p.i, min(p.w) as w, min(p.h) as h, count(*) as n_units,
         cast(sum((2126*((p.i+3*s.j)%256) + 7152*((2*p.i+5*s.j)%256)
                   + 722*((7*p.i+11*s.j)%256)) // 10000) as bigint) as sum_val
  from bmp p, (select unnest(range(0, 256)) as j) s
  where s.j < p.w*p.h group by p.i
),
wav as (select i, 8000+(i%3)*4000 as rate, 200+(i%50)*10 as ns
        from media where i%3 = 2),
wav_agg as (
  select w.i, min(w.rate) as rate, min(w.ns) as ns,
         cast(sum(abs(((w.i*31 + s.j*17) % 2001) - 1000)) as bigint) as sum_val
  from wav w, (select unnest(range(0, 704)) as j) s
  where s.j < w.ns group by w.i
)
select printf('m%06d', i) as payload_id,
       'image/x-portable-pixmap' as mime, cast(w as int) as width,
       cast(h as int) as height, 0 as sample_rate,
       cast(n_units as bigint) as n_units, sum_val,
       0 as duration_ms
from ppm_agg
union all
select printf('m%06d', i), 'image/bmp', cast(w as int), cast(h as int), 0,
       cast(n_units as bigint), sum_val, 0
from bmp_agg
union all
select printf('m%06d', i), 'audio/wav', 0, 0, cast(rate as int),
       cast(ns as bigint), sum_val, cast((ns*1000)//rate as int)
from wav_agg
"""


# ---------------------------------------------------------------------------
# streaming (structured-streaming over the events table)
# ---------------------------------------------------------------------------

def q_streaming_event_counts(spark, sf_dir):
    """Structured Streaming: readStream over the events parquet,
    1-hour windowed counts, availableNow trigger into a memory sink —
    returned as the final batch relation."""
    import uuid

    ev_schema = _load(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )
    name = f"stream_counts_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


O_STREAMING = """
select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as window_start,
       event_type, count(*) as n
from events group by 1, 2
"""


SESSION_GAP = 1800


def q_streaming_sessionize(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user sessionization with a 30-min gap, state carried ACROSS
    micro-batches (events are time-split into two segments + a flush
    punctuation segment, drained one file per trigger).  Input is
    distinct (user_id, second-floored ts) so the session assignment is
    totally ordered and the DuckDB lag/cumsum oracle is exactly
    comparable."""
    import os
    import shutil
    import tempfile
    import uuid

    from ..streaming.stateful import FLUSH_MARKER, run_sessionize_over_segments

    ev = (
        _load(spark, sf_dir, "events")
        .select("user_id", F.unix_timestamp("ts").cast("long").alias("t"))
        .distinct()
    )
    mm = ev.agg(F.min("t").alias("lo"), F.max("t").alias("hi")).first()
    mid = (mm.lo + mm.hi) // 2
    seg0 = ev.filter(F.col("t") <= mid).withColumn("event_type", F.lit("e"))
    seg1 = ev.filter(F.col("t") > mid).withColumn("event_type", F.lit("e"))
    flush = ev.groupBy("user_id").agg(
        (F.max("t") + 10 * SESSION_GAP).alias("t")
    ).withColumn("event_type", F.lit(FLUSH_MARKER))

    feed = tempfile.mkdtemp(prefix="sess_feed_")
    for i, seg in enumerate((seg0, seg1, flush)):
        tmp = os.path.join(feed, f"_tmp{i}")
        seg.select("user_id", "t", "event_type").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in sorted(os.listdir(tmp))
                    if f.endswith(".parquet"))
        # flat, ordered file names: FileStreamSource drains oldest-mtime
        # (then lexicographic) first → seg0, seg1, flush = 3 batches
        shutil.move(os.path.join(tmp, part),
                    os.path.join(feed, f"seg{i}.parquet"))
        shutil.rmtree(tmp)
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    return run_sessionize_over_segments(spark, feed, name,
                                        gap_seconds=SESSION_GAP)


O_STREAMING_SESSIONIZE = f"""
with e as (
  select distinct user_id, floor(epoch(ts))::bigint as t from events
),
ordered as (
  select user_id, t, lag(t) over (partition by user_id order by t) as prev
  from e
),
marked as (
  select user_id, t,
         case when prev is null or t - prev > {SESSION_GAP} then 1 else 0 end as ns
  from ordered
),
sess as (
  select user_id, t,
         (sum(ns) over (partition by user_id order by t
                        rows unbounded preceding)) - 1 as session_idx
  from marked
)
select user_id, session_idx::bigint as session_idx, count(*) as n_events,
       min(t) as t_start, max(t) as t_end
from sess group by user_id, session_idx
"""


def q_streaming_incremental_kg(spark, sf_dir):
    """The KG pipeline as a Structured Streaming job
    (streaming/incremental.py): two WARC segments of the constructed-doc
    corpus (the same docs kg_extract_mill drives) land in a feed dir,
    the stream drains them with availableNow, content-dedups across
    batches, and the accumulated triples relation is returned.  Now
    ORACLE-GATED: expected triples + graph URNs reconstruct in SQL the
    way O_KG_EXTRACT_MILL / O_KG_GRAPH_URN do.  Batch-parity on the
    full synthetic corpus and exactly-once restart stay asserted in
    tests/test_streaming.py."""
    import os
    import tempfile

    from ..streaming.incremental import stream_pipeline

    root = tempfile.mkdtemp(prefix="stream_kg_")
    feed = os.path.join(root, "feed")
    out = os.path.join(root, "warehouse")
    os.makedirs(feed, exist_ok=True)
    pages = _kg_pages(spark, sf_dir).withColumn(
        "_id", F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("bigint")
    )
    for name, lo, hi in (("seg0", 0, KG_DOC_LIMIT // 2),
                         ("seg1", KG_DOC_LIMIT // 2, KG_DOC_LIMIT)):
        pages.filter((F.col("_id") >= lo) & (F.col("_id") < hi)).drop(
            "_id"
        ).write.mode("overwrite").parquet(os.path.join(feed, name))
    q = stream_pipeline(spark, feed + "/*", out, None)
    q.awaitTermination(600)
    return spark.read.parquet(os.path.join(out, "triples")).select(
        "subject", "predicate", "object", "graph"
    )


O_STREAM_KG = f"""
with d as (select doc_id, source, lang from documents where doc_id < {KG_DOC_LIMIT}),
built as (
  select doc_id,
    concat('<https://example.org/doc/', cast(doc_id as varchar), '>') as s,
    concat(source, '.example.org') as host, source, lang from d
),
g as (
  select *, concat('urn:gleaner:', host, ':', sha256(concat(
    s, ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://schema.org/Dataset> .', chr(10),
    s, ' <https://schema.org/about> "', source, '" .', chr(10),
    s, ' <https://schema.org/inLanguage> "', lang, '" .', chr(10),
    s, ' <https://schema.org/name> "Doc ', cast(doc_id as varchar), '" .', chr(10)
  ))) as graph from built
)
select s as subject,
       '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' as predicate,
       '<https://schema.org/Dataset>' as object, graph from g
union all
select s, '<https://schema.org/name>',
       concat('"Doc ', cast(doc_id as varchar), '"'), graph from g
union all
select s, '<https://schema.org/about>', concat('"', source, '"'), graph from g
union all
select s, '<https://schema.org/inLanguage>', concat('"', lang, '"'), graph from g
"""


# winnowing: base-257 polynomial rolling hash mod 2^61-1, window-4
# minima, distinct + sorted, hex-joined — the DuckDB HUGEINT arithmetic
# reproduces core.text.winnow_fingerprint bit-for-bit (the mod fits
# HUGEINT headroom: max term ≈ 2^68, sum of 8 ≈ 2^71 « 2^127)
_WINNOW_POWS = [257 ** (7 - j) for j in range(8)]
_WINNOW_MOD = (1 << 61) - 1


def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprint (Schleimer et al., SIGMOD'03) via a pandas
    UDF over the pure core (core/text.py) — oracle-gated since round 3:
    the 61-bit modular rolling hash IS portable SQL with DuckDB HUGEINT
    arithmetic (O_WINNOW)."""
    from ..functions.udfs import winnow_fp_udf

    d = _load(spark, sf_dir, "documents")
    return d.select("doc_id", winnow_fp_udf("text").alias("winnow_fp"))


O_WINNOW = rf"""
with d as (
  select doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) as s
  from documents
),
hs as (
  select doc_id, i,
         (list_sum(list_transform(generate_series(0, 7),
           j -> unicode(substring(s, i + j, 1))::HUGEINT * {_WINNOW_POWS}[j + 1]))
           % {_WINNOW_MOD})::BIGINT as h
  from d, unnest(generate_series(1, len(s) - 7)) t(i)
  where len(s) >= 8
),
wins as (
  select doc_id, i,
         min(h) over (partition by doc_id order by i
                      rows between current row and 3 following) as m,
         count(*) over (partition by doc_id) as nh
  from hs
)
select doc_id,
       string_agg(lower(hex(m)), '|' order by m) as winnow_fp
from (select distinct doc_id, m from wins where i <= greatest(nh - 3, 1))
group by doc_id
union all
-- short docs (0 < len(s) < 8): ONE polynomial hash of the whole string
-- (rolling_hashes' short-input branch); empty docs: empty fingerprint
select doc_id,
       lower(hex(list_reduce(
         list_transform(generate_series(1, len(s)),
           j -> unicode(substring(s, j, 1))::HUGEINT),
         (acc, x) -> (acc * 257 + x) % {_WINNOW_MOD})::BIGINT)) as winnow_fp
from d where len(s) > 0 and len(s) < 8
union all
select doc_id, '' as winnow_fp from d where len(s) = 0
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    # relational / reference-operator parity
    "pricing_summary": (q_pricing_summary, O_PRICING),
    "run_stats_agg": (q_run_stats, O_RUN_STATS),
    "anti_join_diff": (q_anti_join_diff, O_ANTI_JOIN),
    "broadcast_lookup_join": (q_broadcast_lookup_join, O_BROADCAST_JOIN),
    "union_sources": (q_union_sources, O_UNION),
    "dedup_exact": (q_dedup_exact, O_DEDUP_EXACT),
    "sort_topk": (q_sort_topk, O_SORT_TOPK),
    "count_scan": (q_count_scan, O_COUNT_SCAN),
    "hash_ids": (q_hash_ids, O_HASH_IDS),
    "json_path_extract": (q_json_path_extract, O_JSON_PATH),
    "robots_filter": (q_robots_filter, O_ROBOTS_FILTER),
    "sitemap_scan": (q_sitemap_scan, O_SITEMAP_SCAN),
    "sitegraph_scan": (q_sitegraph_scan, O_SITEGRAPH),
    "robots_sitemaps": (q_robots_sitemaps, O_ROBOTS_SITEMAPS),
    "api_paged_scan": (q_api_paged_scan, O_API_PAGED),
    "gdrive_scan": (q_gdrive_scan, O_GDRIVE_SCAN),
    # text analysis
    "text_normalize": (q_text_normalize, O_TEXT_NORMALIZE),
    # token_count carries BOTH counters (whitespace + BPE-ish) since r5:
    # the former token_count_bpe row was merged into it to free a slot
    # for kg_microdata_rdfa under the 50-row gate cap.
    "token_count": (q_token_count, O_TOKEN_COUNT),
    "quality_score": (q_quality_score, O_QUALITY),
    "lang_id": (q_lang_id, O_LANG_ID),
    "fingerprint_md5": (q_fingerprint, O_FINGERPRINT),
    # dedup family
    "minhash_signature": (q_minhash_signature, O_MINHASH_SIG),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, O_DEDUP_MINHASH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, O_NGRAM_JACCARD),
    "dedup_simhash": (q_dedup_simhash, O_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, O_SIMHASH_PAIRS),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, O_DEDUP_EMB_COS),
    "winnow_fingerprint": (q_winnow_fingerprint, O_WINNOW),
    # similarity search
    "ann_topk": (q_ann_topk, O_ANN_TOPK_BOTH),
    "ann_lsh_bucketed": (q_ann_lsh_bucketed, O_ANN_LSH),
    "ann_multiprobe": (q_ann_multiprobe, O_ANN_MULTIPROBE),
    "embedding_centroids": (q_embedding_centroids, O_CENTROIDS),
    "ann_ivf_probe": (q_ann_ivf_probe, O_ANN_IVF),
    "ann_ivf_kmeans": (q_ann_ivf_kmeans, O_ANN_IVF_KMEANS),
    # KG pipeline end-to-end
    "kg_extract_mill": (q_kg_extract_mill, O_KG_EXTRACT_MILL),
    "kg_js_inline_recover": (q_kg_js_inline_recover, O_KG_JS_RECOVER),
    "kg_microdata_rdfa": (q_kg_microdata_rdfa, O_KG_MICRODATA_RDFA),
    "kg_graph_urn": (q_kg_graph_urn, O_KG_GRAPH_URN),
    "kg_nquads_export": (q_kg_nquads_export, O_KG_NQUADS),
    "kg_shape_validation": (q_kg_shape_validation, O_KG_SHAPE),
    "kg_shape_report": (q_kg_shape_report, O_KG_SHAPE_REPORT),
    "kg_prov": (q_kg_prov, O_KG_PROV),
    "kg_remote_context": (q_kg_remote_context, O_KG_REMOTE_CTX),
    "kg_context_registry": (q_kg_context_registry, O_KG_CONTEXT_REGISTRY),
    "entity_cc": (q_entity_cc, O_ENTITY_CC),
    # multimodal metadata + streaming + non-SQL ops
    "multimodal_meta": (q_multimodal_meta, O_MULTIMODAL_META),
    "streaming_event_counts": (q_streaming_event_counts, O_STREAMING),
    "streaming_sessionize": (q_streaming_sessionize, O_STREAMING_SESSIONIZE),
    "streaming_incremental_kg": (q_streaming_incremental_kg, O_STREAM_KG),
    # round 5: the former rows-only slot now carries the REAL codec-free
    # decode with a full DuckDB oracle — zero no_oracle rows.  The
    # registry must stay at EXACTLY 50 entries (the driver's correctness
    # gate caps at 50 in registry order; r3 evidence: a 52-row registry
    # silently dropped the last two) — merge before adding a 51st.
    "multimodal_decode_real": (q_multimodal_decode_real,
                               O_MULTIMODAL_DECODE_REAL),
}
