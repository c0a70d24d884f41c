"""Continuous-harvest mode: the KG pipeline as a Structured Streaming
job over an arriving page feed.

The reference is purely batch (SURVEY.md §1.3) and gets incrementality
from its BoltDB diff mode; here the same semantics fall out of
Structured Streaming's exactly-once source tracking: ``readStream`` over
the pages directory (new parquet files = newly crawled WARC segments),
``foreachBatch`` running the identical extract → normalize → dedup →
mill stages, cross-batch content dedup via anti-join against the
accumulated docs table, append sinks.  The stream checkpoint replaces
the manifest for *file*-level resume; the doc_sha anti-join keeps
*content*-level idempotence (the same JSON-LD arriving via a new URL is
stored once, like the reference's sha-named objects).

``trigger(availableNow=True)`` drains the backlog and stops — the batch
pipeline run as a stream; a real deployment swaps the trigger for a
processing-time interval and the parquet source for Kafka/Iceberg CDC
without touching the stage code.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.manifest import MISSING_TABLE_CONDITIONS
from ..operators.stages import (
    dedup_docs,
    extract_stage,
    materialize_triples,
    mill_stage,
    normalize_stage,
    with_source,
)
from ..sources.pages import PAGES_SCHEMA


def _process_batch(batch_df: DataFrame, batch_id: int, out_dir: str,
                   sources_dim: DataFrame | None, bucket: str) -> None:
    """One micro-batch through the batch stages.  Runs on the driver per
    micro-batch; all heavy work stays distributed DataFrame ops.

    Idempotence under foreachBatch's at-least-once contract: both sinks
    are written under batch-scoped partition directories
    (``.../docs/batch_id=N``, ``.../triples/batch_id=N``) with
    ``mode("overwrite")`` — a replay of batch N (same batch id, same
    source files per the stream checkpoint) rewrites exactly the same
    directories, so a crash between the two writes cannot lose or
    duplicate rows.  The cross-batch content anti-join excludes the
    current batch id so a replay sees the identical prior set even if a
    failed attempt already wrote this batch's docs (the round-1 ADVICE
    failure mode: docs landed, triples didn't, replay anti-joined
    everything away).  On a real cluster the same layout maps onto
    Iceberg's ``overwritePartitions`` for snapshot-atomic replaces."""
    spark = batch_df.sparkSession
    pages = with_source(batch_df, sources_dim)
    blocks = extract_stage(pages)
    docs = dedup_docs(normalize_stage(blocks))

    docs_path = os.path.join(out_dir, "docs")
    try:
        prior = spark.read.parquet(docs_path)
    except AnalysisException as e:
        # only a genuinely-missing table may be swallowed (first batch);
        # any other read failure silently disabling the dedup would
        # re-ingest history as duplicates
        if e.getCondition() not in MISSING_TABLE_CONDITIONS:
            raise
    else:
        if "batch_id" in prior.columns:
            prior = prior.filter(F.col("batch_id") != batch_id)
        # (a docs table from the pre-batch-partitioned layout holds only
        # completed batches — use it unfiltered)
        docs = docs.join(prior.select("doc_sha1"), "doc_sha1", "left_anti")

    from ..functions.barrier import reliable_ckpt

    docs = reliable_ckpt(docs)
    triples = materialize_triples(mill_stage(docs, bucket))
    triples.write.mode("overwrite").partitionBy("source").parquet(
        os.path.join(out_dir, "triples", f"batch_id={batch_id}")
    )
    docs.write.mode("overwrite").partitionBy("source").parquet(
        os.path.join(docs_path, f"batch_id={batch_id}")
    )


def stream_pipeline(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    sources_dim: DataFrame | None = None,
    bucket: str = "gleaner",
):
    """Start the incremental pipeline over ``pages_dir``; returns the
    StreamingQuery.  The ``availableNow`` trigger processes every file
    present at start, in micro-batches, and then stops, so each call is
    one incremental harvest.  Exactly-once file tracking lives in the
    stream checkpoint under ``out_dir``; maxFilesPerTrigger bounds
    micro-batch memory when a backlog of WARC segments lands at once."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(pages_dir)
    )
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: _process_batch(df, bid, out_dir, sources_dim, bucket)
    ).option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
    return writer.trigger(availableNow=True).start()


def windowed_host_rates(spark: SparkSession, pages_dir: str,
                        window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming crawl-rate monitor: pages per host per window with a
    late-data watermark — the streaming analogue of the reference's
    RunStats counters (common/stats.go:48-55).  Returned unstarted (the
    caller picks the sink)."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(pages_dir)
        .withColumn(
            "host",
            F.lower(F.regexp_extract(F.trim("url"), r"^[a-z]+://([^/]+)", 1)),
        )
    )
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "host")
        .agg(F.count("*").alias("pages"))
        .select(F.col("w.start").alias("window_start"), "host", "pages")
    )
