"""The core pipeline stages as DataFrame transformations.

Stage graph (SURVEY.md §7):

    pages → extract (S1/P1) → normalize+identify (S2/P2-P7,H1-H4, dedup J5)
          → mill (S3/R1-R3) → [link (S4)] → materialize (S5)

Each stage is a pure DataFrame→DataFrame function; persistence +
manifests live in ``plans.pipeline``.  All joins against the sources
dimension are broadcast (the reference's only join shape, J1/J2 —
``config/sources.go:237-244``).

Scale notes: the extract/normalize/mill hot path is narrow (no shuffle)
— parallelism comes from input partitions; the only shuffles before
linking are the salted repartition (skew) and the doc_sha dedup (J5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.udfs import extract_page_udf, process_doc_udf

DEFAULT_BUCKET = "gleaner"


def url_host(col):
    """url → host, the page↔source key (P8-flavoured cleanup included).
    Scheme match is case-insensitive (RFC 3986 schemes are)."""
    return F.lower(F.regexp_extract(
        F.trim(col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)", 1
    ))


def with_source(pages: DataFrame, sources_dim: DataFrame | None) -> DataFrame:
    """Broadcast-join the sources dimension by host (J1).  Pages without
    a matching active source keep NULL config → defaults downstream.
    Mirrors GetSourceByName linear scans (sources.go:237-244) as the one
    dimension lookup."""
    pages = pages.withColumn("host", url_host(F.col("url")))
    if sources_dim is None:
        return (
            pages.withColumn("source", F.col("host"))
            .withColumn("identifiertype", F.lit("jsonsha"))
            .withColumn("identifierpath", F.lit(""))
            .withColumn("fixcontextoption", F.lit("https"))
        )
    dim = sources_dim.filter(F.col("active"))  # P9 active-source filter
    dim = dim.select(
        F.col("domain").alias("host"),
        F.col("name").alias("source"),
        "propername", "pid", "identifiertype", "identifierpath",
        "fixcontextoption",
    )
    joined = pages.join(F.broadcast(dim), "host", "left")
    return (
        joined.withColumn("source", F.coalesce("source", "host"))
        .withColumn("identifiertype", F.coalesce("identifiertype", F.lit("jsonsha")))
        .withColumn("identifierpath", F.coalesce("identifierpath", F.lit("")))
        .withColumn(
            "fixcontextoption", F.coalesce("fixcontextoption", F.lit("https"))
        )
    )


def salted_repartition(pages: DataFrame, partitions: int, salt: int = 8) -> DataFrame:
    """Skew guard for mega-domains (graphng.go:99-101's large-object
    worry, re-expressed for Spark): spread each host over ``salt``
    sub-keys so one 40%-of-the-web domain cannot pin a single task."""
    return pages.repartition(
        partitions,
        F.concat_ws("#", F.col("host"), F.pmod(F.xxhash64("url"), F.lit(salt))),
    )


def extract_stage(pages_with_source: DataFrame) -> DataFrame:
    """S1: html → exploded candidate JSON-LD blocks plus the per-page
    structured-markup payload, from ONE Arrow pass over the raw html
    (``extract_page_udf``).  At web scale the html is the dominant IO
    cost, so every per-page parse shares that single scan and utf-8
    decode; all gates run Python-side on the decoded string (an
    ``F.when(gate, udf)`` column gate would NOT short-circuit — Spark
    evaluates Python UDFs unconditionally).

    Columns added per page:

    * ``block_idx`` / ``jsonld`` / ``via`` — one row per JSON-LD block.
      Zero-block pages keep a block_idx = -1 / jsonld NULL row so the
      visit is recorded (the reference's ``NILL:`` KV bookkeeping,
      acquire.go:187-191); downstream stages filter them out.  Pages
      with ZERO static blocks whose bytes still hint at JSON-LD get a
      conservative recovery pass over plain <script> code — the static
      subset of what the reference only reaches via headless rendering
      (headlessNG.go:302-349); recovered blocks carry ``via =
      'js_inline'``, static ones ``via = 'static'``.
    * ``has_ldjson_marker`` — the raw bytes mention ld+json somewhere
      (S5 headless-coverage gap: a -1 row with the marker is JSON-LD the
      reference injects headlessly, headlessNG.go:151-429).
    * ``sd_sha`` / ``sd`` — microdata + RDFa Lite triples
      (core/structured.page_structured), carried on each page's single
      anchor row (block_idx ≤ 0) and NULL elsewhere, so the exploded
      relation stores exactly one copy; ``structured_stage`` derives the
      mill-shaped triples from it.
    """
    extracted = pages_with_source.withColumn(
        "page", extract_page_udf(F.col("html"), F.col("url"))
    )
    return (
        extracted.select(
            "url", "warc_ts", "source", "host", "lang",
            "identifiertype", "identifierpath", "fixcontextoption",
            "page.has_ldjson_marker", "page.sd_sha", "page.sd",
            F.posexplode_outer("page.blocks").alias("block_idx", "block"),
        )
        .withColumn("block_idx", F.coalesce("block_idx", F.lit(-1)))
        .withColumn("jsonld", F.col("block.jsonld"))
        .withColumn("via", F.col("block.via"))
        .drop("block")
        # one sd copy per page: only the anchor row (block_idx ≤ 0 —
        # exactly one exists per page: 0 if blocks, -1 if none) keeps
        # the structured payload
        .withColumn("sd_sha",
                    F.when(F.col("block_idx") <= 0, F.col("sd_sha")))
        .withColumn("sd", F.when(F.col("block_idx") <= 0, F.col("sd")))
    )


def structured_stage(blocks: DataFrame,
                     bucket: str = DEFAULT_BUCKET) -> DataFrame:
    """Microdata + RDFa Lite triples, mill-shaped — ``(subject,
    predicate, object, graph, source)``.  Beyond reference parity (the
    Go harvest is JSON-LD-only, acquire.go:216-252) but part of this
    engine's north-star extraction surface; core semantics in
    ``core/structured.py``.

    Input is the EXTRACT relation (``extract_stage`` output or its
    persisted read-back), not raw pages: the structured parse is fused
    into extract's single html Arrow pass and rides each page's anchor
    row (block_idx ≤ 0) as the ``sd_sha``/``sd`` columns.  This stage is
    therefore a pure JVM filter + explode over two small columns —
    parquet column pruning means the raw html is never re-read, the
    decisive cost at web scale.

    Graph URN: ``urn:{bucket}:{source}:sd:{content_sha}`` — the ``sd``
    segment marks the beyond-reference provenance and keeps these graphs
    distinguishable from the reference-parity JSON-LD graph URNs
    (prov.go:96); the sha is content-addressed so identical markup on
    two pages collapses to one graph in the materialize dedup, matching
    the doc-sha dedup on the JSON-LD path."""
    anchored = blocks.filter(
        (F.col("block_idx") <= 0) & F.col("sd").isNotNull()
        & (F.size("sd") > 0)
    )
    return (
        anchored
        .select("source", "sd_sha", F.explode("sd").alias("t"))
        .select(
            F.col("t.subject").alias("subject"),
            F.col("t.predicate").alias("predicate"),
            F.col("t.object").alias("object"),
            F.concat_ws(
                ":", F.lit("urn"), F.lit(bucket), F.col("source"),
                F.lit("sd"), F.col("sd_sha"),
            ).alias("graph"),
            "source",
        )
    )


def normalize_stage(blocks: DataFrame) -> DataFrame:
    """S2: fix-ups + validity + identifiers.  Output: one row per
    candidate block with parity columns; ``valid`` rows carry doc ids."""
    present = blocks.filter(F.col("jsonld").isNotNull())
    processed = present.withColumn(
        "proc",
        process_doc_udf(
            F.col("jsonld"),
            F.col("fixcontextoption"),
            F.col("identifiertype"),
            F.col("identifierpath"),
        ),
    )
    return processed.select(
        "url", "warc_ts", "source", "host", "lang", "block_idx", "jsonld",
        "via",
        F.col("proc.jsonld_fixed").alias("jsonld_fixed"),
        F.col("proc.valid").alias("valid"),
        F.col("proc.error").alias("error"),
        F.col("proc.doc_sha1").alias("doc_sha1"),
        F.col("proc.id_type").alias("id_type"),
        F.col("proc.matched_path").alias("matched_path"),
        F.col("proc.json_sha").alias("json_sha"),
        F.col("proc.norm_sha256").alias("norm_sha256"),
        F.col("proc.raw_sha1").alias("raw_sha1"),
        F.col("proc.quads").alias("quads"),
    )


def dedup_docs(docs: DataFrame) -> DataFrame:
    """J5: content dedup.  The reference gets this implicitly from
    object naming (summoned/{source}/{sha}.jsonld overwrites); we make it
    explicit and deterministic — keep the lexicographically smallest
    (url, block_idx) per doc_sha1 so results are partitioning-independent.
    One shuffle on doc_sha1 with map-side partial aggregation.

    Second pass: GRAPH-IDENTITY dedup on (source, norm_sha256).  The
    graph URN is ``urn:{bucket}:{source}:{norm_sha256}``, so two docs
    with different raw bytes but identical URDNA2015 canonicalization
    would share a graph (the reference's milled object
    ``milled/{source}/{sha}`` — last write wins); keeping one
    deterministic survivor guarantees EVERY GRAPH HAS EXACTLY ONE DOC,
    which is what lets ``materialize_triples`` skip the full-relation
    triple dedup (the fattest shuffle in the pipeline) for untouched
    graphs."""
    valid = docs.filter(F.col("valid"))
    keyed = valid.withColumn(
        "dedup_rank",
        F.struct(F.col("url"), F.col("block_idx")),
    )
    best = (
        keyed.groupBy("doc_sha1")
        .agg(F.min("dedup_rank").alias("keep"))
        .select(
            "doc_sha1",
            F.col("keep.url").alias("url"),
            F.col("keep.block_idx").alias("block_idx"),
        )
    )
    out = valid.join(best, ["doc_sha1", "url", "block_idx"], "left_semi")
    keyed2 = out.withColumn(
        "graph_rank", F.struct(F.col("doc_sha1"), F.col("url"),
                               F.col("block_idx")),
    )
    best2 = (
        keyed2.groupBy("source", "norm_sha256")
        .agg(F.min("graph_rank").alias("keep"))
        .select(
            "source", "norm_sha256",
            F.col("keep.doc_sha1").alias("doc_sha1"),
            F.col("keep.url").alias("url"),
            F.col("keep.block_idx").alias("block_idx"),
        )
    )
    return out.join(
        best2, ["source", "norm_sha256", "doc_sha1", "url", "block_idx"],
        "left_semi",
    )


def mill_stage(docs: DataFrame, bucket: str = DEFAULT_BUCKET) -> DataFrame:
    """S3: docs → (subject, predicate, object, graph) rows.

    Graph URN ``urn:{bucket}:{source}:{sha}`` (prov.go:96) — sha is the
    north-rule SHA-256 of the normalized doc; ``doc_sha1`` stays on the
    docs table for reference parity.

    The quads were milled by ``normalize_stage``'s process UDF
    (core/process.py), so this is a pure JVM explode — no second Python
    pass, no re-expansion."""
    return quad_rows(
        docs.select("source", "quads", F.concat_ws(
            ":", F.lit("urn"), F.lit(bucket), F.col("source"),
            F.col("norm_sha256"),
        ).alias("graph"))
    )


def quad_rows(milled: DataFrame) -> DataFrame:
    """``(source, quads, graph)`` per doc → ``(subject, predicate,
    object, graph, source)`` rows.

    ``explode_outer`` plus a null filter instead of ``explode``: for an
    inner explode the optimizer infers ``size(quads) > 0`` and pushes it
    below the projection that computes ``quads`` — when that projection
    is ``process_doc_udf`` (an un-materialized docs frame, the org
    graphs) the Python UDF would run twice."""
    return (
        milled.select("source", "graph", F.explode_outer("quads").alias("q"))
        .filter(F.col("q").isNotNull())
        .select(
            F.col("q.subject").alias("subject"),
            F.col("q.predicate").alias("predicate"),
            F.col("q.object").alias("object"),
            "graph", "source",
        )
    )


def materialize_triples(triples: DataFrame) -> DataFrame:
    """S5: final (subject, predicate, object, graph) relation, distinct
    within graph, deterministically ordered for export (the reference's
    PipeCopy concat order is unspecified listing order, pipecopy.go:15-81;
    we sort — an intentional determinism improvement, SURVEY.md J9).

    ONE full dedup shuffle, on measurement (round 5): the previous
    "shuffle avoidance" split the relation into rewritten/untouched
    graphs via a semi/anti-join on the linker's ``_rewritten`` flag —
    but that scans the (un-materialized) link output THREE times, each
    re-running the sameAs rewrite joins, and measured 13-18 s against
    7.2 s for the plain formulation at 120k heavy pages.  The upstream
    rewrite joins are explicitly broadcast when the sameAs map's
    measured size permits (link_stage — the checkpointed map has no
    Catalyst stats, so without the hint they sort-merge and shuffle this
    relation twice: 1342 s vs 411 s at 960k pages / 8 cores), making the
    rewrite map-side so Spark pipelines it into the dedup exchange's map
    phase — exactly one pass over the fattest relation, which is also
    the right 100 TB plan (recompute amplification costs more than the
    single wide shuffle it avoided)."""
    cols = ["subject", "predicate", "object", "graph", "source"]
    key = ["graph", "subject", "predicate", "object"]
    return triples.select(*cols).dropDuplicates(key)
