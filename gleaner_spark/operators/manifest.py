"""Checkpoint manifests + resume (S14/J3).

The reference's BoltDB KV store (bucket per source, key = URL, value =
sha or ``NILL:``/``NULL:`` sentinel — acquire.go:187-191,273-294) drives
its incremental "diff" mode via a hash-set difference
(``resources.go:210-245``).  Here the manifest is a parquet table
``(run_id, stage, url, doc_sha, status)`` and resume is a left-anti
join — the same EXCEPT semantics, shuffle-free on the small side when
the manifest broadcasts, partition-prunable at scale because the
manifest is partitioned by stage.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_SCHEMA = (
    "run_id string, stage string, url string, doc_sha string, status string"
)

STATUS_STORED = "stored"      # sha recorded
STATUS_NILL = "NILL"          # visited, no JSON-LD (reference sentinel)
STATUS_NULL = "NULL"          # visited, empty/invalid doc (reference sentinel)

#: Read-error conditions that mean "not written yet" — a parquet
#: directory or an Iceberg table that no earlier run created.  Every
#: other read error (corrupt files, conflicting partition layouts, a
#: wrong catalog) must surface: tolerating it would silently turn a diff
#: run into a full re-run.
MISSING_TABLE_CONDITIONS = ("PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND")


def manifest_path(base_dir: str) -> str:
    return os.path.join(base_dir, "manifest")


def build_extract_manifest(blocks: DataFrame, run_id: str) -> DataFrame:
    """One row per visited URL from the extract stage: sha-less statuses
    mirror the reference's NILL/NULL KV sentinels."""
    per_url = blocks.groupBy("url").agg(
        F.max(F.col("block_idx")).alias("max_idx")
    )
    return per_url.select(
        F.lit(run_id).alias("run_id"),
        F.lit("extract").alias("stage"),
        "url",
        F.lit(None).cast("string").alias("doc_sha"),
        F.when(F.col("max_idx") >= 0, F.lit(STATUS_STORED))
        .otherwise(F.lit(STATUS_NILL))
        .alias("status"),
    )


def build_docs_manifest(docs: DataFrame, run_id: str) -> DataFrame:
    return docs.select(
        F.lit(run_id).alias("run_id"),
        F.lit("normalize").alias("stage"),
        "url",
        F.col("doc_sha1").alias("doc_sha"),
        F.when(F.col("valid"), F.lit(STATUS_STORED))
        .otherwise(F.lit(STATUS_NULL))
        .alias("status"),
    )


def write_manifest(manifest: DataFrame, base_dir: str) -> None:
    manifest.write.mode("append").partitionBy("stage").parquet(
        manifest_path(base_dir)
    )


def read_manifest(spark: SparkSession, base_dir: str) -> DataFrame | None:
    """The manifest table, or None when no run has written one yet (full
    mode); any other read error raises."""
    path = manifest_path(base_dir)
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    except AnalysisException as e:
        if e.getCondition() not in MISSING_TABLE_CONDITIONS:
            raise
        return None
