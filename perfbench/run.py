"""glean-spark benchmark: harvest workloads through ``plans.pipeline``.

    python3 perfbench/run.py --workload harvest_full --seed 1 --seconds 30 --trace 0

Run from the repository root.  Each run builds its seeded inputs, sets
up a local Spark session on all cpus of the process's affinity mask,
times the process's first pipeline call (``--seconds`` is accepted and
not used: a process has one first call), checks every output, and
prints as its last stdout line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see README.md in this directory).  Scratch files go
under ``.perfbench_work/`` in the repository root; per-run diagnostics
and traces are kept in ``.perfbench_work/results/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: harvest_full: pages of the timed call (the first call of the process)
FULL_PAGES = 200
#: harvest_incremental: pages of the base warehouse, landed once per
#: checkout and program version by a child process; pages per increment;
#: and the increments generated (the traced run lands three)
BASE_PAGES = 100
DELTA_PAGES = 50
INCREMENTS = 3
#: seconds the child process that lands the base warehouse may take
BASE_TIMEOUT_S = 150
#: pages re-derived Spark-free per check, and pages of the core profile
CHECK_PAGES = 24
CORE_PAGES = 40
MIN_LINK_QUALITY = 0.95

E2E_UNITS = {"run_s": "s", "cpu_s": "core-s", "setup_s": "s"}

SPANS = ("stages.extract", "stages.normalize", "stages.dedup",
         "stages.mill", "link", "stages.materialize", "bookkeeping")
SPAN_FIELDS = {"s": "s", "core_s": "core-s", "rows": "rows",
               "jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB",
               "skew": "ratio"}
LAYER_UNITS = {
    **{f"core.{k}_ms": "ms" for k in (
        "extract", "structured", "process_document", "fix_all", "to_rdf",
        "urdna2015", "identifier", "skolemize")},
    "core.quads_per_block": "quads",
    "udfs.extract.python_s": "s", "udfs.extract.to_python_mb": "MB",
    "udfs.normalize.python_s": "s", "udfs.normalize.to_python_mb": "MB",
    "udfs.boot_s": "s",
    **{f"{s}.{f}": u for s in SPANS for f, u in SPAN_FIELDS.items()},
    "link.names": "count", "link.sameas_rows": "rows",
    "resume.manifest_read_s": "s", "resume.skipped": "pages",
    "pipeline.run_s": "s", "pipeline.jobs": "count",
    "pipeline.overlap_s": "s",
    "session.start_s": "s", "session.warm_s": "s",
    "trace.wall_s": "s", "trace.self_s": "s", "trace.coverage_pct": "%",
    "trace.overhead_s": "s", "trace.gc_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def import_program():
    """Import the program from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import gleaner_spark

    if not os.path.abspath(gleaner_spark.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"gleaner_spark resolved outside {ROOT}")
    # imported here so the empty-checkout case fails before any setup
    import pyspark  # noqa: F401
    from gleaner_spark.plans import pipeline, session  # noqa: F401


class Bench:
    """One run: the Spark session, the resource monitor and the records
    of every timed unit."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.seed, self.trace = seed, trace
        self.cores = len(os.sched_getaffinity(0))
        base = os.path.join(ROOT, ".perfbench_work")
        self.results = os.path.join(base, "results")
        self.work = os.path.join(base, f"run-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.work, d))
        os.makedirs(self.results, exist_ok=True)
        # the JVM, the Python workers and every temp file stay inside the
        # checkout; the workers import the program from it
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp}"
                                           " -XX:-UsePerfData")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        self.spark = self.sources = self.base = None
        self.gateway_proc = None
        self.units: list[dict] = []
        self.diag: dict = {"workload": workload, "seed": seed,
                           "trace": int(trace), "cores": self.cores}

    # -- session -----------------------------------------------------------

    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def set_group(self, name: str | None) -> None:
        self.spark.sparkContext.setJobGroup(name or "-", name or "-")

    def setup(self, import_s: float) -> float:
        """Process start → ready to run a pipeline: the imports, the
        session and the sources dimension.  Input generation is
        excluded."""
        from gleaner_spark.plans.session import build_session
        from gleaner_spark.sources.pages import gen_sources_spark

        t = time.perf_counter()
        self.spark = build_session(app_name="perfbench", cores=self.cores,
                                   shuffle_partitions=2 * self.cores,
                                   extra_conf=self._conf())
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.gateway_proc = getattr(sc._gateway, "proc", None)
        self.sources = gen_sources_spark(self.spark)
        start_s = time.perf_counter() - t
        self.diag["session"] = {"import_s": import_s, "start_s": start_s}
        setup_s = import_s + start_s
        log(f"setup {setup_s:.2f}s")
        return setup_s

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every descendant."""
        from procmon import tree_pids

        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            self.spark = None
        proc = self.gateway_proc
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits at EOF on its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            self.gateway_proc = None
        deadline = time.time() + 30
        while len(tree_pids()) > 1 and time.time() < deadline:
            time.sleep(0.2)
        for pid in tree_pids()[1:]:
            try:
                os.kill(pid, 9)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass


def timed_unit(label: str, fn, check) -> tuple[dict, object]:
    """Run ``fn`` as one timed unit, labelled with host busy/steal and a
    hash-loop probe before and after; then run ``check(result)`` outside
    the timed window.  ``check`` returns (info, error messages).  A unit
    that raises or fails a check carries its errors in ``errors``."""
    from procmon import (hash_probe_s, host_cpu_counters, host_labels,
                         tree_cpu_s)

    rec: dict = {"unit": label, "probe_before_s": hash_probe_s()}
    host0, cpu0 = host_cpu_counters(), tree_cpu_s()
    t0 = time.perf_counter()
    rec["start"] = time.time()
    result, errors = None, []
    try:
        result = fn()
    except Exception:
        errors.append(traceback.format_exc(limit=3))
    rec["wall_s"] = time.perf_counter() - t0
    rec["end"] = time.time()
    rec["cpu_s"] = tree_cpu_s() - cpu0
    rec.update(host_labels(host0, host_cpu_counters()))
    rec["probe_after_s"] = hash_probe_s()
    if not errors:
        try:
            info, errs = check(result)
            rec.update(info)
            errors.extend(errs)
        except Exception:
            errors.append(traceback.format_exc(limit=3))
    rec["errors"] = errors
    log(f"{label}: {rec['wall_s']:.2f}s cpu {rec['cpu_s']:.1f} "
        f"steal {rec['host_steal_pct']:.1f}%"
        + (f" ERRORS {errors}" if errors else ""))
    return rec, result


def count_failed(units: list[dict]) -> int:
    return sum(1 for u in units if u["errors"])


# -- checks ------------------------------------------------------------------


def check_full_output(out: str, corpus) -> tuple[dict, list[str]]:
    import checks
    from gleaner_spark.sources.pages import sources_rows

    errors = []
    n, digest = checks.triples_digest(out)
    step = max(len(corpus.rows) // CHECK_PAGES, 1)
    sample = corpus.rows[::step][:CHECK_PAGES]
    want = checks.rederive_processed(sample, sources_rows())
    got = checks.landed_processed(out, {p["url"] for p in sample})
    if want != got:
        errors.append(f"processed rows differ from core.process_document "
                      f"on {len(want ^ got)} of {len(want)} rows")
    quality = checks.link_quality(out, corpus.gold_label())
    for k in ("precision", "recall"):
        if quality[k] < MIN_LINK_QUALITY:
            errors.append(f"link {k} {quality[k]:.3f} < {MIN_LINK_QUALITY}")
    rows, distinct = checks.docs_distinct(out)
    if rows != distinct:
        errors.append(f"docs: {rows} rows, {distinct} distinct doc_sha1")
    return {"triples": n, "digest": digest, "link": quality}, errors


def check_increment(out: str, res_skipped, landed: int,
                    total: int) -> tuple[dict, list[str]]:
    import checks
    import pyarrow.parquet as pq

    errors = []
    if res_skipped != landed:
        errors.append(f"resumed_urls_skipped {res_skipped} != {landed} landed")
    rows, distinct = checks.docs_distinct(out)
    if rows != distinct:
        errors.append(f"docs: {rows} rows, {distinct} distinct doc_sha1")
    manifest = pq.read_table(os.path.join(out, "manifest"),
                             columns=["stage", "url"]).to_pylist()
    urls = {r["url"] for r in manifest if r["stage"] == "extract"}
    if len(urls) != total:
        errors.append(f"manifest lists {len(urls)} urls, {total} landed")
    return {"skipped": res_skipped, "docs": rows}, errors


def same_digest(units: list[dict]) -> list[str]:
    digests = {u.get("digest") for u in units if "digest" in u}
    return [] if len(digests) <= 1 else [f"triples digests differ: {digests}"]


# -- workloads ---------------------------------------------------------------


def run_full_pipeline(b: Bench, pages, out: str, run_id: str,
                      mode: str = "full"):
    from gleaner_spark.plans.pipeline import PipelineConfig, run_pipeline

    return run_pipeline(b.spark, pages, b.sources,
                        PipelineConfig(output_dir=out, run_id=run_id,
                                       mode=mode))


def unit_metrics(rec: dict) -> dict:
    return {"run_s": rec["wall_s"], "cpu_s": rec["cpu_s"]}


def prepare_full(b: Bench):
    import corpus as corpus_mod

    c = corpus_mod.build(b.seed, FULL_PAGES)
    path = os.path.join(b.work, "pages.parquet")
    corpus_mod.write_parquet(c.rows, path)
    b.diag["input"] = c.shape()
    return c, [path]


def full_call(b: Bench, pages, corpus, label: str) -> dict:
    out = os.path.join(b.work, label)
    rec, _ = timed_unit(label, lambda: run_full_pipeline(
        b, pages, out, label), lambda _res: check_full_output(out, corpus))
    b.units.append(rec)
    shutil.rmtree(out, ignore_errors=True)
    return rec


def harvest_full(b: Bench, corpus, parts) -> dict:
    """One full-mode run_pipeline call over the FULL_PAGES pages: the
    first call of the process, as a one-shot harvest job makes it."""
    rec = full_call(b, b.spark.read.parquet(parts[0]), corpus, "full")
    b.diag["pages_per_s"] = FULL_PAGES / rec["wall_s"]
    return unit_metrics(rec)


def program_fingerprint() -> str:
    """Hash of the program's sources, the corpus generator and the base
    size: a base warehouse is reused only by the code that landed it."""
    h = hashlib.sha256(str(BASE_PAGES).encode())
    files = [os.path.join(HERE, "corpus.py")]
    for d, _, names in os.walk(os.path.join(ROOT, "gleaner_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build_base(dest: str) -> int:
    """Child-process entry: land the BASE_PAGES base pages in diff mode
    into ``dest/warehouse``, with the pages in ``dest/pages.parquet``."""
    import corpus as corpus_mod

    b = Bench("base", corpus_mod.BASE_SEED, False)
    try:
        c = corpus_mod.build(b.seed, BASE_PAGES, corpus_mod.BASE_OFFSET)
        pages = os.path.join(dest, "pages.parquet")
        corpus_mod.write_parquet(c.rows, pages)
        b.setup(0.0)
        run_full_pipeline(b, b.spark.read.parquet(pages),
                          os.path.join(dest, "warehouse"), "base",
                          mode="diff")
    finally:
        b.shutdown()
        shutil.rmtree(b.work, ignore_errors=True)
    return 0


def base_warehouse(b: Bench) -> str:
    """The directory holding the base pages and the warehouse landed
    from them, built by a child process when this checkout has none for
    the current program.  A fresh process per run then lands its
    increment onto an existing warehouse, as a scheduled harvest does."""
    root = os.path.dirname(b.results)
    name = f"base-{program_fingerprint()}"
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "warehouse")):
        return path
    for old in os.listdir(root):
        if old.startswith("base-"):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    tmp = os.path.join(b.work, "base")
    os.makedirs(tmp)
    log("building the base warehouse")
    t = time.perf_counter()
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                              "--build-base", tmp], cwd=ROOT,
                             stdout=subprocess.DEVNULL, start_new_session=True)
    try:
        code = child.wait(timeout=BASE_TIMEOUT_S)
    finally:
        if child.poll() is None:
            os.killpg(child.pid, 9)
            child.wait()
    if code != 0:
        raise RuntimeError(f"base warehouse build exited with {code}")
    os.rename(tmp, path)
    b.diag["base_build_s"] = time.perf_counter() - t
    return path


def prepare_incremental(b: Bench):
    import corpus as corpus_mod

    shutil.copytree(os.path.join(b.base, "warehouse"), warehouse(b))
    c = corpus_mod.build(b.seed, INCREMENTS * DELTA_PAGES)
    parts = [os.path.join(b.base, "pages.parquet")]
    for k in range(INCREMENTS):
        p = os.path.join(b.work, f"pages-{k + 1:02d}.parquet")
        corpus_mod.write_parquet(
            c.rows[k * DELTA_PAGES:(k + 1) * DELTA_PAGES], p)
        parts.append(p)
    b.diag["input"] = {"base_pages": BASE_PAGES,
                       "increment": c.shape(0, DELTA_PAGES)}
    return c, parts


def warehouse(b: Bench) -> str:
    return os.path.join(b.work, "warehouse-out")


def increment(b: Bench, parts, k: int) -> dict:
    """Land increment ``k`` (1-based): the input lists every page so far
    and diff mode must skip the ones already landed."""
    out = warehouse(b)
    pages = b.spark.read.parquet(*parts[:k + 1])
    landed = BASE_PAGES + (k - 1) * DELTA_PAGES
    rec, _ = timed_unit(f"increment-{k}", lambda: run_full_pipeline(
        b, pages, out, f"inc-{k}", mode="diff"),
        lambda res: check_increment(out, res.resumed_urls_skipped, landed,
                                    landed + DELTA_PAGES))
    b.units.append(rec)
    return rec


def harvest_incremental(b: Bench, corpus, parts) -> dict:
    """One diff-mode increment of DELTA_PAGES new pages onto the base
    warehouse: the first call of the process."""
    return unit_metrics(increment(b, parts, 1))


# -- traced runs -------------------------------------------------------------


def traced_unit(b: Bench, label: str, pages, out: str, mode: str, tracer,
                check):
    """The span-by-span pipeline (layers.traced_pipeline) as one unit,
    under a root span named ``trace``."""
    import layers

    holder = {}

    def go():
        with tracer.span("trace") as root:
            holder["root"] = root
            holder["out"] = layers.traced_pipeline(
                b.spark, pages, b.sources, out, label, mode, tracer)
        return holder["out"]

    rec, res = timed_unit(label, go, check)
    b.units.append(rec)
    return rec, holder


def link_counts(b: Bench, raw, triples) -> tuple[int, int]:
    """Distinct normalized names the linker received and sameAs rows it
    produced, counted after the traced window."""
    from pyspark.sql import functions as F
    from gleaner_spark.operators.link import entity_mentions

    from checks import SAMEAS_GRAPH

    b.set_group("post")
    norm = F.trim(F.regexp_replace(F.lower(F.col("name")),
                                   r"[^a-z0-9]+", " "))
    names = (entity_mentions(raw).select(norm.alias("n"))
             .filter(F.length("n") > 0).distinct().count())
    sameas = triples.filter(F.col("graph") == SAMEAS_GRAPH).count()
    b.set_group(None)
    return names, sameas


def trace_full(b: Bench, corpus, parts) -> dict:
    """The cold first call (as timed with --trace 0), one warm untraced
    call (the comparison for the tracing overhead), then the traced call
    on the same input."""
    from procmon import tree_cpu_s
    from spans import Tracer
    import layers

    pages = b.spark.read.parquet(parts[0])
    for label, group in (("full", "setup.warm"), ("full-untraced",
                                                  "pipeline")):
        b.set_group(group)
        full_call(b, pages, corpus, label)
    b.set_group(None)
    tracer = Tracer(b.set_group, tree_cpu_s)
    out = os.path.join(b.work, "full-traced")
    rec, holder = traced_unit(b, "full-traced", pages, out, "full", tracer,
                              lambda _res: check_full_output(out, corpus))
    rec["errors"].extend(same_digest(b.units))
    _, raw, triples = holder["out"]
    names, sameas = link_counts(b, raw, triples)
    # what a diff re-run of the same input would do first
    _, skipped = layers.resume_probe(b.spark, pages, out, tracer)
    return {"tracer": tracer, "root": holder["root"], "first": b.units[0],
            "untraced": b.units[1], "names": names, "sameas": sameas,
            "skipped": skipped}


def trace_incremental(b: Bench, corpus, parts) -> dict:
    """The cold first increment (as timed with --trace 0), a warm
    untraced one (the comparison for the tracing overhead), then the
    traced third increment."""
    from procmon import tree_cpu_s
    from spans import Tracer

    for k, group in ((1, "setup.warm"), (2, "pipeline")):
        b.set_group(group)
        increment(b, parts, k)
    b.set_group(None)
    tracer = Tracer(b.set_group, tree_cpu_s)
    out = warehouse(b)
    landed = BASE_PAGES + 2 * DELTA_PAGES
    pages = b.spark.read.parquet(*parts[:4])

    def check(res):
        return check_increment(out, res[0], landed, landed + DELTA_PAGES)

    rec, holder = traced_unit(b, "increment-traced", pages, out, "diff",
                              tracer, check)
    skipped, raw, triples = holder["out"]
    names, sameas = link_counts(b, raw, triples)
    return {"tracer": tracer, "root": holder["root"], "first": b.units[0],
            "untraced": b.units[1], "names": names, "sameas": sameas,
            "skipped": skipped}


def layer_metrics(b: Bench, t: dict, core: dict) -> dict[str, float]:
    import eventlog
    from spans import descendants, self_seconds

    log_ = eventlog.read_logs(sorted(
        os.path.join(b.work, "eventlog", f)
        for f in os.listdir(os.path.join(b.work, "eventlog"))))
    tracer, root = t["tracer"], t["root"]
    spans = tracer.spans
    m: dict[str, float] = dict(core)
    for name in SPANS:
        s = next(x for x in spans if x.name == name)
        ev = eventlog.summarize(
            log_, {spans[i].name for i in descendants(spans, s.id)})
        m[f"{name}.s"] = s.seconds
        m[f"{name}.core_s"] = s.core_s
        for f in ("rows", "jobs", "shuffle_mb", "spill_mb", "skew"):
            m[f"{name}.{f}"] = ev[f]
    m["link.names"] = t["names"]
    m["link.sameas_rows"] = t["sameas"]
    for stage in ("extract", "normalize"):
        ev = eventlog.summarize(log_, {f"stages.{stage}"})
        m[f"udfs.{stage}.python_s"] = ev["python_s"]
        m[f"udfs.{stage}.to_python_mb"] = ev["to_python_mb"]
    m["udfs.boot_s"] = eventlog.summarize(log_,
                                          {"setup.warm"})["python_boot_s"]
    resume = next(x for x in spans if x.name == "resume")
    m["resume.manifest_read_s"] = resume.seconds
    m["resume.skipped"] = t["skipped"] or 0
    untraced = t["untraced"]
    m["pipeline.run_s"] = untraced["wall_s"]
    m["pipeline.jobs"] = eventlog.jobs_between(log_, untraced["start"],
                                               untraced["end"])
    top = [s for s in spans if s.parent == root.id]
    m["pipeline.overlap_s"] = sum(s.seconds for s in top) - untraced["wall_s"]
    m["session.start_s"] = b.diag["session"]["start_s"]
    # what the process's first call costs over a warm one
    m["session.warm_s"] = t["first"]["wall_s"] - untraced["wall_s"]
    root_self = self_seconds(spans)[root.id]
    m["trace.wall_s"] = root.seconds
    m["trace.self_s"] = root_self
    m["trace.coverage_pct"] = 100.0 * (1 - root_self / root.seconds)
    m["trace.overhead_s"] = root.seconds - untraced["wall_s"]
    m["trace.gc_s"] = eventlog.summarize(
        log_, {spans[i].name for i in descendants(spans, root.id)})["gc_s"]
    b.diag["spans"] = tracer.to_json()
    return m


# -- main --------------------------------------------------------------------

WORKLOADS = {
    "harvest_full": (prepare_full, harvest_full, trace_full),
    "harvest_incremental": (prepare_incremental, harvest_incremental,
                            trace_incremental),
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the child process that lands the base warehouse
    ap.add_argument("--build-base", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.build_base and None in (args.workload, args.seed,
                                        args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    try:
        import_program()
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.build_base:
        return build_base(args.build_base)
    import_s = time.time() - T_START

    import layers

    prepare, measure, traced = WORKLOADS[args.workload]
    b = Bench(args.workload, args.seed, bool(args.trace))
    try:
        # every workload makes sure of the base warehouse, so the first
        # run in a checkout lands it, whichever workload that run has
        b.base = base_warehouse(b)
        t = time.perf_counter()
        corpus, parts = prepare(b)
        b.diag["input_gen_s"] = time.perf_counter() - t
        setup_s = b.setup(import_s)
        if args.trace:
            from gleaner_spark.sources.pages import sources_rows

            step = max(len(corpus.rows) // CORE_PAGES, 1)
            core = layers.core_profile(corpus.rows[::step][:CORE_PAGES],
                                       sources_rows())
            t_info = traced(b, corpus, parts)
            b.shutdown()
            values = layer_metrics(b, t_info, core)
            units = LAYER_UNITS
        else:
            values = {**measure(b, corpus, parts), "setup_s": setup_s}
            b.shutdown()
            units = E2E_UNITS
    finally:
        b.shutdown()
    b.diag["units"] = b.units
    failed = count_failed(b.units)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(b.results, name), "w") as f:
        json.dump({"diagnostics": b.diag, "metrics": values}, f, indent=1,
                  default=str)
    shutil.rmtree(b.work, ignore_errors=True)
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    print(json.dumps({"diagnostics": {k: v for k, v in b.diag.items()
                                      if k != "spans"}}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(b.units),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
