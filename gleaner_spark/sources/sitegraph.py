"""Sitegraph ingestion (S6): one big JSON-LD document per source.

The reference's sitegraph path (``internal/summoner/acquire/
sitegraph.go:24-131``) bypasses page scraping entirely: the source URL
*is* a whole JSON-LD dataset graph, stored under its raw sha
(``sha := common.GetSHA(d) // Don't normalize big files``, line 50) and
milled straight to n-quads, skipping the blank-node normalization pass.

Spark shape: the sitegraph table (source, url, body) maps directly onto
the extract stage's OUTPUT relation — one block row per sitegraph — so
the rest of the pipeline (normalize → mill → link → materialize) is
shared verbatim.  The skip-normalize semantics live in
``core/process.py``: docs over MAX_NORMALIZE_BYTES (and docs whose
canonicalization would blow the URDNA2015 n-degree budget) take the
filesha identifier exactly like the reference's sitegraph objects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.stages import url_host


def sitegraph_blocks(
    sitegraphs: DataFrame,
    identifiertype: str = "jsonsha",
    fixcontextoption: str = "https",
) -> DataFrame:
    """(source, url, body) → extract-stage-shaped block rows, tagged
    ``via = 'sitegraph'``.

    Feed the result straight into ``operators.stages.normalize_stage``;
    union with crawled blocks upstream of dedup when a run mixes
    sitegraph and sitemap sources (J4 semantics).
    """
    return sitegraphs.select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("source"),
        url_host(F.col("url")).alias("host"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(identifiertype).alias("identifiertype"),
        F.lit("").alias("identifierpath"),
        F.lit(fixcontextoption).alias("fixcontextoption"),
        F.lit(0).alias("block_idx"),
        F.col("body").alias("jsonld"),
        F.lit("sitegraph").alias("via"),
    )
