"""Run statistics (J6) — the reference's mutex-guarded counter map
(``internal/common/stats.go:9-93``: Count / Summoned / Stored / Issues /
EmptyDoc / StoreError / HttpError per source) re-expressed as one
aggregation over the blocks/docs tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def run_stats(blocks: DataFrame, docs: DataFrame) -> DataFrame:
    """Per-source counters.  ``blocks`` is the extract-stage output
    (block_idx = -1 marks a no-JSON-LD page visit), ``docs`` the
    normalize-stage output (valid flag + dedup info)."""
    page_counts = blocks.groupBy("source").agg(
        F.countDistinct("url").alias("count"),
        F.count(F.when(F.col("block_idx") >= 0, 1)).alias("summoned"),
        F.countDistinct(
            F.when(F.col("block_idx") == -1, F.col("url"))
        ).alias("empty_doc"),
        # S5 coverage gap, measured: pages whose bytes mention ld+json
        # but yielded no script block — JS-injected JSON-LD the reference
        # only reaches via headless rendering (headlessNG.go:151-429).
        # Recovered pages (js_inline blocks) have block_idx >= 0, so they
        # naturally leave this remaining-gap count.
        F.countDistinct(
            F.when((F.col("block_idx") == -1) & F.col("has_ldjson_marker"),
                   F.col("url"))
        ).alias("headless_candidates"),
        # ...and the recovered side of the split: pages whose JSON-LD
        # came from the JS-inline fallback extractor
        F.countDistinct(
            F.when(F.col("via") == "js_inline", F.col("url"))
        ).alias("headless_recovered"),
    )
    doc_counts = docs.groupBy("source").agg(
        F.count(F.when(F.col("valid"), 1)).alias("stored"),
        F.count(F.when(~F.col("valid"), 1)).alias("issues"),
    )
    return (
        page_counts.join(doc_counts, "source", "left")
        .na.fill(0, ["stored", "issues"])
        # full reference key set (stats.go:48-55) so a migration's
        # dashboards map 1:1.  Three keys have no analogue in the
        # table-driven world and are structurally zero: HttpError
        # (pages arrive pre-fetched in the input table), StoreError
        # (sink failures fail the Spark job, they don't skip rows),
        # HeadlessError (no headless browser service).
        .withColumn("http_error", F.lit(0).cast("long"))
        .withColumn("store_error", F.lit(0).cast("long"))
        .withColumn("headless_error", F.lit(0).cast("long"))
        .select("source", "count", "summoned", "stored", "issues",
                "empty_doc", "http_error", "store_error", "headless_error",
                "headless_candidates", "headless_recovered")
    )
