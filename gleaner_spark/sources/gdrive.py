"""Drive-type source (S8): page-token-chained folder listing → per-file
document ingestion.

The reference's Google Drive source (``internal/summoner/acquire/
googledrive.go``) does three things with data: (1) enumerates a folder's
files by following the Files.List ``nextPageToken`` chain until it is
empty (``GetFileList``, googledrive.go:169-220); (2) downloads each
file and identifies it by ``GetSHA(contents)`` — "Don't normalize big
files", googledrive.go:321 — i.e. the filesha path; (3) mills it
straight to n-quads.  The OAuth/API plumbing is proprietary front-end;
the data semantics above are what this module re-expresses over
already-fetched listing tables, the same equivalence used for the
paged-API source (S7, sources/api.py).

Tables:

- ``listing``: ``(source, page_token, next_page_token)`` — one row per
  listing PAGE; the root page has ``page_token = ''`` and the chain
  ends at a NULL/empty ``next_page_token``.
- ``files``: ``(source, page_token, file_id, name)`` — the page's
  ``files(id, name)`` payload.

Only files on pages REACHABLE from the root token chain are ingested —
stale/orphan pages (dangling tokens from an aborted listing) must be
excluded, mirroring the S7 contiguous-prefix rule.  Chain-following is
inherently sequential per folder, so the loop is driver-side over
config-scale frontiers; each round is one distributed join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def drive_file_list(listing: DataFrame, files: DataFrame,
                    max_pages: int = 64) -> DataFrame:
    """Files on listing pages reachable from the ``''`` root token via
    the ``next_page_token`` chain (GetFileList's pagination loop).
    Raises if a chain exceeds ``max_pages`` (a token cycle in a
    corrupted listing table must not loop forever)."""
    from ..functions.barrier import reliable_ckpt

    # each round is checkpointed: without a barrier, round k's isEmpty()
    # re-derives the whole growing union from scratch (O(k²) total work
    # and a k-deep union plan); with it every round is O(1) jobs over
    # materialized frontiers (same pattern as connected_components)
    frontier = reliable_ckpt(
        listing.filter(F.col("page_token") == "").select(
            "source", "page_token"
        ).distinct()
    )
    seen = frontier
    # max_pages + 1 iterations: a legitimate acyclic chain of exactly
    # max_pages hops needs one more emptiness check on its (empty)
    # successor frontier before the cycle guard may fire (round-3
    # ADVICE: the old loop raised on the boundary-length chain)
    for _ in range(max_pages + 1):
        nxt = reliable_ckpt(
            listing.join(frontier, ["source", "page_token"])
            .filter(
                F.col("next_page_token").isNotNull()
                & (F.length("next_page_token") > 0)
            )
            .select("source",
                    F.col("next_page_token").alias("page_token"))
            .distinct()
            .join(seen, ["source", "page_token"], "left_anti")
        )
        if nxt.isEmpty():
            return files.join(seen, ["source", "page_token"], "left_semi")
        seen = reliable_ckpt(seen.unionByName(nxt))
        frontier = nxt
    raise RuntimeError(
        f"drive_file_list: token chain longer than {max_pages} pages — "
        "refusing to follow a possible token cycle"
    )


def drive_blocks(
    found_files: DataFrame,
    bodies: DataFrame,
    identifiertype: str = "jsonsha",
    fixcontextoption: str = "https",
) -> DataFrame:
    """Reachable files joined to their fetched bodies → normalize-stage
    block rows (same relation shape as sitegraph_blocks).  The default
    ``jsonsha`` identifier is the reference's gdrive behavior: sha of
    the literal contents, no normalization of the id (the graph URN's
    norm_sha256 remains our north-rule addition).  ``bodies``:
    ``(source, file_id, body)``."""
    return (
        found_files.join(bodies, ["source", "file_id"])
        .select(
            F.concat(F.lit("gdrive://"), F.col("source"), F.lit("/"),
                     F.col("file_id")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.col("source"),
            F.col("source").alias("host"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(identifiertype).alias("identifiertype"),
            F.lit("").alias("identifierpath"),
            F.lit(fixcontextoption).alias("fixcontextoption"),
            F.lit(0).alias("block_idx"),
            F.col("body").alias("jsonld"),
            F.lit("gdrive").alias("via"),
            "file_id",
        )
    )
