"""Full pipeline assembly: the one linear DataFrame DAG
(SURVEY.md §3.1.5) with per-stage persistence, checkpoint manifests,
per-partition lineage and resume.

    pages ─ resume-anti-join ─ extract ─ normalize ─ dedup ─ mill ─ link
                                                            └─ org/prov ─ triples

Local persistence is parquet directories (the Iceberg stand-in — the
table layout, partition columns and MERGE-shaped writes carry over to an
Iceberg catalog unchanged; see sources/tables.py).
"""

from __future__ import annotations

import logging
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

logger = logging.getLogger(__name__)


@contextmanager
def _timed(stage: str):
    """Opt-in stage timing (GLEANER_STAGE_TIMING=1): wall seconds per
    pipeline stage to stderr — the first tool to reach for when a run's
    CPU utilization looks wrong."""
    if os.environ.get("GLEANER_STAGE_TIMING") != "1":
        yield
        return

    def snap() -> tuple[int, int]:
        try:
            with open("/proc/stat") as f:
                txt = f.read()
            v = list(map(int, txt.split("\n")[0].split()[1:]))
            busy = sum(v) - v[3] - v[4]
            forks = int(txt.split("processes")[1].split()[0])
            return busy, forks
        except Exception:
            return 0, 0

    t0, (b0, f0) = time.time(), snap()
    yield
    b1, f1 = snap()
    hz = os.sysconf("SC_CLK_TCK")
    print(
        f"[stage] {stage}: {time.time() - t0:.1f}s"
        f" core_s={(b1 - b0) / hz:.0f} forks={f1 - f0}",
        file=sys.stderr, flush=True,
    )

class _AsyncWrites:
    """ONE background thread draining an ordered queue of bookkeeping
    writes (manifest / lineage / prov / stats): they overlap the next
    stage's distributed compute instead of serializing between stages
    (round-3 VERDICT #5 — these boundaries were a measurable slice of
    the data-volume-independent serial floor).  A single worker keeps
    same-directory appends mutually ordered — two concurrent jobs
    appending into one path would race the shared ``_temporary``
    committer dir.  ``join()`` re-raises the first failure, so nothing
    fails silently and the pipeline returns only once everything is
    durable.  If a pipeline stage raises first, already-queued writes
    simply drain in the background thread (they only touch this run's
    output dir) while the stage error propagates.

    PySpark pins one JVM thread to each Python thread, so a job started
    from the worker thread would carry none of the caller's local
    properties: no job group (``cancelJobGroup`` could not reach it), no
    description, no scheduler pool.  ``submit`` wraps each write in
    ``inheritable_thread_target``, which copies the caller's properties
    and tags as they are at submit time."""

    def __init__(self, spark: SparkSession) -> None:
        from concurrent.futures import ThreadPoolExecutor

        self._spark = spark
        self._pool = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="gleaner-bookkeeping"
        )
        self._futures: list = []

    def submit(self, fn) -> None:
        from pyspark import inheritable_thread_target

        fn = inheritable_thread_target(self._spark)(fn)
        self._futures.append(self._pool.submit(fn))

    def join(self) -> None:
        try:
            for f in self._futures:
                f.result()
        finally:
            self._futures.clear()
            self._pool.shutdown(wait=True)

    def abort(self) -> None:
        """Failure-path teardown: cancel what hasn't started, wait out
        what has (a half-written manifest would be worse than a slow
        error path), log — never raise — bookkeeping errors so the
        original stage exception stays the one the caller sees."""
        for f in self._futures:
            f.cancel()
        self._pool.shutdown(wait=True)
        for f in self._futures:
            if f.done() and not f.cancelled() and f.exception() is not None:
                logger.warning(
                    "bookkeeping write failed during abort: %s",
                    f.exception(),
                )
        self._futures.clear()


from ..operators import manifest as mf
from ..operators.link import link_stage
from ..operators.provenance import org_triples, partition_lineage, prov_lineage
from ..operators.stages import (
    dedup_docs,
    extract_stage,
    materialize_triples,
    mill_stage,
    normalize_stage,
    salted_repartition,
    structured_stage,
    with_source,
)
from ..operators.stats import run_stats


@dataclass
class PipelineConfig:
    output_dir: str
    run_id: str = "run-0"
    bucket: str = "gleaner"
    mode: str = "full"            # 'full' | 'diff' (resume)
    link_entities: bool = True
    salt_partitions: int | None = None


@dataclass
class PipelineResult:
    blocks: DataFrame
    docs: DataFrame
    triples: DataFrame
    stats: DataFrame
    resumed_urls_skipped: int | None = None


def iceberg_catalog(spark: SparkSession) -> tuple[str, str] | None:
    """(catalog, namespace) when an Iceberg catalog is configured on the
    session, else None.  Detection: any ``spark.sql.catalog.<name>``
    conf whose value is an Iceberg catalog implementation (the standard
    Iceberg-on-Spark wiring).  Namespace from
    ``spark.gleaner.iceberg.namespace`` (default ``gleaner``)."""
    for r in spark.sql("SET").collect():
        k, v = r.key, str(r.value)
        if (k.startswith("spark.sql.catalog.")
                and k.count(".") == 3 and "iceberg" in v.lower()):
            ns = spark.conf.get("spark.gleaner.iceberg.namespace", "gleaner")
            return k.rsplit(".", 1)[-1], ns
    return None


#: sentinel: _write/_persist resolve the catalog themselves only when
#: the caller didn't already (run_pipeline resolves once per run)
_CAT_AUTO = "auto"


def _write_iceberg(df: DataFrame, cat: tuple[str, str], name: str,
                   partition_by: list[str] | None, mode: str) -> str:
    """DataFrameWriterV2 path for a configured Iceberg catalog: append
    the delta in diff mode, snapshot ``createOrReplace`` for a full
    refresh (the parquet stand-in's mode('overwrite') truncates, so the
    two deployments agree — a source dropped from the input disappears
    from the table either way), and explicit mode
    ``'overwrite_partitions'`` for Iceberg's dynamic partition
    overwrite when a caller wants partitions absent from this run kept.
    Returns the table identifier for read-back."""
    catalog, ns = cat
    table = f"{catalog}.{ns}.{name}"
    spark = df.sparkSession
    # build the writer once — both table-(re)creating branches must carry
    # the partition spec, or a full-refresh run would replace e.g. the
    # 'triples' table with an UNpartitioned one and silently degrade later
    # overwrite_partitions calls to whole-table overwrites
    w = df.writeTo(table)
    if partition_by:
        w = w.partitionedBy(*[F.col(c) for c in partition_by])
    if not spark.catalog.tableExists(table):
        w.create()
    elif mode == "append":
        df.writeTo(table).append()
    elif mode == "overwrite_partitions":
        df.writeTo(table).overwritePartitions()
    else:
        w.createOrReplace()
    return table


def _write(df: DataFrame, base: str, name: str,
           partition_by: list[str] | None = None, mode: str = "overwrite",
           cat=_CAT_AUTO):
    """Stage persistence.  With an Iceberg catalog configured the stage
    tables are real catalog tables (append / createOrReplace /
    overwrite_partitions via DataFrameWriterV2); without one — this
    sandbox — plain parquet directories stand in with the same
    overwrite/append semantics."""
    if cat is _CAT_AUTO:
        cat = iceberg_catalog(df.sparkSession)
    if cat is not None:
        _write_iceberg(df, cat, name, partition_by, mode)
        return
    w = df.write.mode("overwrite" if mode == "overwrite_partitions" else mode)
    if mode == "overwrite_partitions":
        # parquet equivalent of Iceberg's dynamic partition overwrite
        w = w.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(os.path.join(base, name))


def _persist(df: DataFrame, base: str, name: str,
             partition_by: list[str] | None = None,
             mode: str = "overwrite", cat=_CAT_AUTO) -> DataFrame:
    """Write the stage output and return a DataFrame reading it back —
    ONE materialization pass per stage (localCheckpoint + write was two),
    and downstream stages scan columnar parquet with pruning instead of
    the row-format checkpoint blocks.  In diff mode only the delta was
    computed, so the delta alone is returned for downstream stages (the
    table on disk still accumulates)."""
    if mode == "append":
        # diff runs: the table on disk accumulates prior runs, but
        # downstream stages must see only this run's delta — checkpoint
        # the delta (second pass unavoidable here; deltas are small)
        from ..functions.barrier import reliable_ckpt

        df = reliable_ckpt(df)
        _write(df, base, name, partition_by, mode, cat)
        return df
    if cat is _CAT_AUTO:
        cat = iceberg_catalog(df.sparkSession)
    _write(df, base, name, partition_by, mode, cat)
    # Rejected: reading back with the written schema pinned
    # (``read.schema(df.schema)``) to skip the footer-inference job — a
    # 200-page harvest, median of 3 same-host pairs, ran flat.
    if cat is not None:
        table = f"{cat[0]}.{cat[1]}.{name}"
        return df.sparkSession.read.table(table).select(*df.columns)
    return df.sparkSession.read.parquet(os.path.join(base, name)).select(
        *df.columns
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    sources_dim: DataFrame | None,
    cfg: PipelineConfig,
) -> PipelineResult:
    aw = _AsyncWrites(spark)
    try:
        return _run_pipeline(spark, pages, sources_dim, cfg, aw)
    except BaseException:
        # tear the bookkeeping thread down on the failure path too —
        # without this a failed run leaked the worker thread and
        # swallowed queued-write errors forever (review finding)
        aw.abort()
        raise


def _run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    sources_dim: DataFrame | None,
    cfg: PipelineConfig,
    aw: _AsyncWrites,
) -> PipelineResult:
    base = cfg.output_dir
    # resolve the Iceberg catalog ONCE — iceberg_catalog() collects the
    # session conf listing, and per-_write re-resolution added ~a dozen
    # driver round-trips per run (review finding)
    cat = iceberg_catalog(spark)
    # V2 preflight (check.go:14-118 analogue): schema + writability
    # validation before any distributed work or directory creation
    from .preflight import preflight_checks

    preflight_checks(pages, sources_dim, base)
    os.makedirs(base, exist_ok=True)

    skipped = None
    if cfg.mode == "diff":
        manifest = mf.read_manifest(spark, base)
        if manifest is not None:
            done = (
                manifest.filter(F.col("stage") == "extract")
                .select("url").distinct()
            )
            # exact skip metric in ONE pass over pages (semi-join count)
            # — the original double pages.count() scanned twice, and a
            # manifest-side count overstated on shrinking inputs
            # (review finding)
            skipped = pages.join(done, "url", "left_semi").count()
            pages = pages.join(done, "url", "left_anti")

    # Rejected, each on a 200-page harvest (median of 3 same-host pairs,
    # 4 cpus): localising the dimension here through ``toPandas`` ran
    # flat (a local relation from the caller needs nothing more), and
    # repartitioning small page inputs to ``defaultParallelism`` before
    # extract_page_udf ran slower, 24.5 → 28.5 s and 69 → 84 core-s.
    pages = with_source(pages, sources_dim)
    if cfg.salt_partitions:
        pages = salted_repartition(pages, cfg.salt_partitions)

    # Diff (resume) semantics: every stage processes only the DELTA and
    # appends it — the table on disk accumulates across runs (the
    # reference appends objects to the store; Iceberg MERGE INTO is the
    # cluster equivalent).  localCheckpoint materializes each stage so
    # downstream stages never re-run the UDFs of an earlier one.
    write_mode = "append" if cfg.mode == "diff" else "overwrite"

    # S1 extract — persist blocks + manifest + lineage.
    # Intermediate tables (blocks/processed/docs) are written WITHOUT
    # partitionBy(source): a 40%-mega-domain source dir bakes skew into
    # every read-back, and AQE-coalesced shuffles otherwise leave a
    # handful of 64 MB files whose row groups bound downstream UDF
    # parallelism at ~8 tasks.  Only the query-facing triples table is
    # source-partitioned (partition pruning is worth it there).
    with _timed("extract"):
        blocks = _persist(extract_stage(pages), base, "blocks", None,
                          write_mode, cat)

    def _extract_bookkeeping():
        with _timed("extract.manifest+lineage"):
            mf.write_manifest(
                mf.build_extract_manifest(blocks, cfg.run_id), base
            )
            partition_lineage(blocks, cfg.run_id, "extract").write.mode(
                "append"
            ).parquet(os.path.join(base, "lineage"))

    aw.submit(_extract_bookkeeping)

    # S2 normalize — persist the full per-block result ONCE (valid +
    # invalid rows); dedup and stats both derive from the read-back, so
    # the expensive pyld UDF runs exactly one pass over the data
    with _timed("normalize"):
        docs_all = _persist(normalize_stage(blocks), base, "processed",
                            None, write_mode, cat)

    # Each bookkeeping write is queued as soon as its inputs are durable
    # (stats: blocks + processed; prov: docs), so it overlaps the stages
    # after it instead of running after the last one (measured on a
    # 200-page harvest: 9 jobs, 2-4 s, ran after materialize when stats
    # and prov were queued there).
    stats = run_stats(blocks, docs_all)

    def _stats_bookkeeping():
        with _timed("stats"):
            _write(stats, base, "stats", cat=cat)

    aw.submit(_stats_bookkeeping)

    docs = dedup_docs(docs_all)
    if cfg.mode == "diff":
        # cross-run content dedup: drop docs whose sha an earlier run
        # already stored (same JSON-LD reached via a new URL)
        try:
            prior = (
                spark.read.table(f"{cat[0]}.{cat[1]}.docs") if cat
                else spark.read.parquet(os.path.join(base, "docs"))
            )
        except AnalysisException as e:  # no docs yet: nothing to drop
            if e.getCondition() not in mf.MISSING_TABLE_CONDITIONS:
                raise
        else:
            docs = docs.join(prior.select("doc_sha1"), "doc_sha1", "left_anti")
    with _timed("dedup"):
        docs = _persist(docs, base, "docs", None, write_mode, cat)

    def _docs_bookkeeping():
        with _timed("dedup.manifest+lineage"):
            mf.write_manifest(mf.build_docs_manifest(docs, cfg.run_id), base)
            partition_lineage(docs, cfg.run_id, "normalize").write.mode(
                "append"
            ).parquet(os.path.join(base, "lineage"))
        # R5 prov lineage rows
        with _timed("prov"):
            prov_lineage(docs.filter(F.col("valid")), sources_dim,
                         cfg.run_id, cfg.bucket).write.mode(
                write_mode
            ).parquet(os.path.join(base, "prov"))

    aw.submit(_docs_bookkeeping)

    # S3 mill — with the fused process UDF the quads already sit on the
    # docs table; the mill is a pure JVM explode + graph-URN concat.
    triples = mill_stage(docs, cfg.bucket)

    # R4 org graphs union in (full runs only — a resumed run would
    # re-append the same org quads; reference runs org graphs once per
    # harvest, pkg/gleaner.go:18-52)
    if sources_dim is not None and cfg.mode != "diff":
        triples = triples.unionByName(org_triples(sources_dim, cfg.bucket))

    # Microdata/RDFa Lite triples union in before persist/link, so they
    # ride the same raw-triples table, entity linking and materialize
    # dedup as the JSON-LD mill output.  The parse was fused into
    # extract's single html Arrow pass; this stage reads only the tiny
    # sd columns back off the persisted blocks table (column pruning —
    # the raw html is never re-scanned).  In diff mode ``blocks`` is the
    # resume delta, so append semantics carry over unchanged.
    triples = triples.unionByName(structured_stage(blocks, cfg.bucket))

    # Persist raw (pre-linking) triples — the reference's ``milled/``
    # prefix as a table — and CACHE the read-back: the linker scans the
    # relation ~5 times (mention scan, type scan, subject/object
    # rewrites, union) and re-decompressing parquet per scan measured
    # 2.5× slower than memory-resident scans.
    with _timed("mill"):
        triples = _persist(triples, base, "raw_triples", None, write_mode,
                           cat)

    # S4 entity linking (cache released after the final materialize)
    raw_cached = None
    if cfg.link_entities:
        raw_cached = triples = triples.persist()
        with _timed("link"):
            triples = link_stage(triples)

    # S5 materialize
    with _timed("materialize"):
        triples = _persist(materialize_triples(triples), base, "triples",
                           ["source"], write_mode, cat)
    if raw_cached is not None:
        raw_cached.unpersist()

    def _materialize_bookkeeping():
        with _timed("materialize.lineage"):
            partition_lineage(triples, cfg.run_id, "materialize").write.mode(
                "append"
            ).parquet(os.path.join(base, "lineage"))

    aw.submit(_materialize_bookkeeping)

    # everything bookkeeping is durable (or raised) before we return
    with _timed("bookkeeping.join"):
        aw.join()

    return PipelineResult(
        blocks=blocks, docs=docs, triples=triples, stats=stats,
        resumed_urls_skipped=skipped,
    )
