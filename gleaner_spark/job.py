"""spark-submit entry point + glcon-parity ops tools.

    spark-submit --py-files gleaner_spark.zip -m ...   # cluster
    python -m gleaner_spark.job [run] --pages <parquet|synth:N> --out <dir> \
        [--mode full|diff] [--no-link] [--cores N] [--run-id ID]

``run`` replaces the reference harvest CLIs (``gleaner -cfg -source
-mode full|diff``, ``glcon gleaner batch`` — cmd/gleaner/main.go:49-55,
pkg/cli/batch.go:38-113): the config file becomes flags + the
sources-dimension table, the BoltDB resume KV becomes the checkpoint
manifest under --out.  The remaining subcommands mirror the ``glcon``
ops surface in the tables world:

    id     — identifier for one JSON-LD doc (pkg/cli/identifier.go:61-153;
             driver-side, no Spark session)
    rdf    — one JSON-LD doc → n-quads via the mill (pkg/cli/rdf.go:31-104;
             driver-side)
    check  — preflight only: schema + warehouse writability, nothing
             executed (pkg/cli/check.go:42-61 / internal/check)
    show   — inspect stored docs by sha prefix or url (glcon object
             tools, pkg/cli/object.go — the object store is a table here)
    prune  — drop triple graphs no longer backed by a stored doc
             (nabu prune via pkg/cli/prune.go:11-21: "Prune graphs in
             triplestore not in object store"; here: anti-join the
             triples table's graph URNs against the graph set derivable
             from the current docs/blocks tables)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

#: structural graphs prune always keeps: org graphs (one per source,
#: R4) and the linker's sameAs graph — neither is doc-backed by design
_SAMEAS_GRAPH = "urn:gleaner:link:sameas"


def _session(app_name: str, cores):
    """(spark, owned): reuse an already-active session (embedded use —
    tests, notebooks; ``build_session`` getOrCreates, so stopping it
    here would kill the caller's session), else build one we own."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active, False
    from .plans.session import build_session

    spark = build_session(app_name=app_name, cores=cores,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark, True


def _read_jsonld(path: str | None) -> str:
    if path:
        with open(path, encoding="utf-8") as f:
            return f.read()
    return sys.stdin.read()


def _cmd_id(args) -> int:
    """glcon id: identifier for one JSON-LD string (identifier.go:61-153).
    Driver-side — the same core/ids.py dispatch the distributed
    normalize stage runs per block."""
    from .core.ids import generate_identifier

    ident = generate_identifier(
        _read_jsonld(args.jsonld), args.idtype, args.idpath
    )
    print(json.dumps({
        "uniqueId": ident.unique_id,
        "identifierType": ident.identifier_type,
        "matchedPath": ident.matched_path,
        "matchedString": ident.matched_string,
        "jsonSha": ident.json_sha,
        "error": ident.error,
    }))
    return 0 if not ident.error else 1


def _cmd_rdf(args) -> int:
    """glcon rdf: JSON-LD → n-quads through the same fix+mill contract
    as the pipeline (rdf.go:31-104 runs Obj2RDF)."""
    from .core.contextfix import fix_all
    from .core.ids import generate_identifier
    from .core.mill import mill_nquads

    raw = _read_jsonld(args.jsonld)
    try:
        fixed = fix_all(raw, args.fixcontext)
    except ValueError as e:
        print(f"fix-up gate: {e}", file=sys.stderr)
        return 1
    ident = generate_identifier(fixed, args.idtype, args.idpath)
    sys.stdout.write(mill_nquads(fixed, ident.unique_id))
    return 0


def _cmd_check(args) -> int:
    """glcon check / internal/check preflight: validate the input
    relation schema and warehouse writability, execute nothing."""
    from .plans.preflight import PreflightError, preflight_checks
    from .sources.pages import gen_sources_spark

    spark, owned = _session("gleaner-check", args.cores)
    try:
        try:
            pages = spark.read.parquet(args.pages)
            sources = (spark.read.parquet(args.sources) if args.sources
                       else gen_sources_spark(spark))
            preflight_checks(pages, sources, args.out)
        except PreflightError as e:
            print(f"Failed check: {e}", file=sys.stderr)
            return 66  # the reference's os.Exit(66) contract, check.go:50
        except Exception as e:  # noqa: BLE001 — check.go exits 66 on ANY
            # check failure, including unreadable inputs (config read
            # errors in the reference); an AnalysisException traceback
            # is not that contract
            print(f"Failed check: {e}", file=sys.stderr)
            return 66
        print("Check successful")
        return 0
    finally:
        if owned:
            spark.stop()


def _cmd_show(args) -> int:
    """glcon object tools: inspect stored docs by sha prefix or url —
    the object store is the docs table here, so this is a pruned
    parquet scan with a pushed-down filter, not a KV get."""
    from pyspark.sql import functions as F

    spark, owned = _session("gleaner-show", args.cores)
    try:
        docs = spark.read.parquet(os.path.join(args.out, "docs"))
        if args.sha:
            docs = docs.filter(
                F.col("doc_sha1").startswith(args.sha)
                | F.col("norm_sha256").startswith(args.sha)
            )
        if args.url:
            docs = docs.filter(F.col("url") == args.url)
        cols = [c for c in ("url", "source", "doc_sha1", "norm_sha256",
                            "valid", "identifier")
                if c in docs.columns]
        if not args.body:
            docs = docs.select(*cols)
        rows = docs.limit(args.limit).collect()
        for r in rows:
            d = r.asDict()
            body = d.pop("jsonld_fixed", None)
            print(json.dumps(d, default=str))
            if args.body and body is not None:
                print(body)
        return 0 if rows else 1
    finally:
        if owned:
            spark.stop()


def prune_triples(spark, out_dir: str, bucket: str = "gleaner"):
    """Graphs in the triples table not backed by a stored doc → dropped
    (nabu prune semantics, pkg/cli/prune.go:15 — triplestore graphs are
    reconciled against the object store; here the "object store" is the
    docs/blocks tables and a graph URN is derivable, so the reconcile is
    one distinct + one left-semi/anti join pair, no driver-side lists).

    Expected graphs:
      - ``urn:{bucket}:{source}:{norm_sha256}`` for every stored doc
      - ``urn:{bucket}:{source}:sd:{sd_sha}``  for every structured-
        markup payload on the blocks table
      - structural: per-source org graphs + the linker's sameAs graph

    Returns (kept DataFrame, expected DataFrame) — the caller counts and
    rewrites; this function stays lazy."""
    from pyspark.sql import functions as F

    triples = spark.read.parquet(os.path.join(out_dir, "triples"))
    docs = spark.read.parquet(os.path.join(out_dir, "docs"))
    expected = docs.select(
        F.concat_ws(":", F.lit("urn"), F.lit(bucket), F.col("source"),
                    F.col("norm_sha256")).alias("graph")
    ).distinct()
    blocks_path = os.path.join(out_dir, "blocks")
    if os.path.isdir(blocks_path):
        blocks = spark.read.parquet(blocks_path)
        if "sd_sha" in blocks.columns:
            expected = expected.unionByName(
                blocks.filter(F.col("sd_sha").isNotNull())
                .select(F.concat_ws(
                    ":", F.lit("urn"), F.lit(bucket), F.col("source"),
                    F.lit("sd"), F.col("sd_sha")).alias("graph"))
                .distinct()
            )
    structural = (F.col("graph").endswith(":org")
                  | (F.col("graph") == _SAMEAS_GRAPH))
    kept = triples.filter(structural).unionByName(
        triples.filter(~structural).join(expected, "graph", "left_semi")
    )
    return kept, expected


def _recover_prune_swap(out: str) -> None:
    """Crash recovery for the prune swap below: the two os.replace
    calls have a window where ``triples`` is missing and the data sits
    at ``triples.pruned-old`` — :func:`main` restores it before any
    command that takes ``--out`` opens the warehouse, so a crashed
    prune never strands the table."""
    final = os.path.join(out, "triples")
    old = os.path.join(out, "triples.pruned-old")
    if not os.path.exists(final) and os.path.exists(old):
        os.replace(old, final)
        print("recovered triples table from interrupted prune",
              file=sys.stderr)


def _cmd_prune(args) -> int:
    spark, owned = _session("gleaner-prune", args.cores)
    try:
        kept, _ = prune_triples(spark, args.out, args.bucket)
        before = spark.read.parquet(
            os.path.join(args.out, "triples")).count()
        tmp = os.path.join(args.out, "triples.pruning")
        kept.write.mode("overwrite").partitionBy("source").parquet(tmp)
        after = spark.read.parquet(tmp).count()
        if args.dry_run:
            import shutil
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            # swap via two renames: a reader never sees a HALF-WRITTEN
            # table, but there IS a crash window between the renames
            # where `triples` is briefly absent — _recover_prune_swap
            # (run by main before every --out command) restores
            # `triples.pruned-old` if a crash lands in it
            import shutil
            final = os.path.join(args.out, "triples")
            old = os.path.join(args.out, "triples.pruned-old")
            shutil.rmtree(old, ignore_errors=True)
            os.replace(final, old)
            os.replace(tmp, final)
            shutil.rmtree(old, ignore_errors=True)
        print(json.dumps({"triples_before": before, "triples_after": after,
                          "pruned": before - after,
                          "dry_run": bool(args.dry_run)}))
        return 0
    finally:
        if owned:
            spark.stop()


def _cmd_run(args) -> int:
    from .plans.pipeline import PipelineConfig, run_pipeline
    from .plans.session import build_session
    from .sources.pages import gen_pages_spark, gen_sources_spark

    spark = build_session(
        app_name=f"gleaner-spark:{args.run_id}",
        cores=args.cores,
        shuffle_partitions=args.shuffle_partitions,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()

    if args.pages.startswith("synth:"):
        n = int(args.pages.split(":", 1)[1])
        parts = args.shuffle_partitions or 32
        pages = gen_pages_spark(spark, n, parts)
    else:
        pages = spark.read.parquet(args.pages)

    sources = (
        spark.read.parquet(args.sources) if args.sources
        else gen_sources_spark(spark)
    )

    cfg = PipelineConfig(
        output_dir=args.out,
        run_id=args.run_id,
        bucket=args.bucket,
        mode=args.mode,
        link_entities=not args.no_link,
        salt_partitions=args.salt_partitions,
    )
    result = run_pipeline(spark, pages, sources, cfg)

    summary = {
        "run_id": args.run_id,
        "mode": args.mode,
        "pages_skipped_by_resume": result.resumed_urls_skipped,
        "urls": result.blocks.select("url").distinct().count(),
        "docs": result.docs.count(),
        "triples": result.triples.count(),
        "seconds": round(time.time() - t0, 2),
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


def _add_doc_flags(p) -> None:
    p.add_argument("--jsonld", default=None,
                   help="JSON-LD file to read (default: stdin)")
    p.add_argument("--idtype", default="jsonsha",
                   help="filesha|jsonsha|identifiersha|identifierstring|"
                        "normalizedjsonsha")
    p.add_argument("--idpath", default="",
                   help="comma-separated JSONPath identifier rules")


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    # back-compat: `job.py --pages ... --out ...` (no subcommand) == run
    # (-h/--help exempt so top-level help shows the subcommands instead
    # of run's help)
    if not argv or (argv[0].startswith("-")
                    and argv[0] not in ("-h", "--help")):
        argv.insert(0, "run")

    p = argparse.ArgumentParser(prog="gleaner_spark.job")
    sub = p.add_subparsers(dest="cmd", required=True)

    runp = sub.add_parser("run", help="harvest pipeline (gleaner batch)")
    runp.add_argument("--pages", required=True,
                      help="parquet path of the pages table, or synth:N")
    runp.add_argument("--sources", default=None,
                      help="parquet path of the sources dimension "
                           "(default: built-in synthetic dimension)")
    runp.add_argument("--out", required=True,
                      help="output/warehouse directory")
    runp.add_argument("--mode", choices=["full", "diff"], default="full")
    runp.add_argument("--run-id", default="run-0")
    runp.add_argument("--bucket", default="gleaner")
    runp.add_argument("--no-link", action="store_true",
                      help="skip the entity-linking stage")
    runp.add_argument("--cores", default=None,
                      help="local[N] cores (omit under spark-submit)")
    runp.add_argument("--shuffle-partitions", type=int, default=None)
    runp.add_argument("--salt-partitions", type=int, default=None)
    runp.set_defaults(fn=_cmd_run)

    idp = sub.add_parser("id", help="identifier for one JSON-LD doc")
    _add_doc_flags(idp)
    idp.set_defaults(fn=_cmd_id)

    rdfp = sub.add_parser("rdf", help="one JSON-LD doc → n-quads")
    _add_doc_flags(rdfp)
    rdfp.add_argument("--fixcontext", default="https",
                      help="context fix option (https|http|standardize…)")
    rdfp.set_defaults(fn=_cmd_rdf)

    chk = sub.add_parser(
        "check",
        help="preflight only, execute nothing (parquet warehouses; "
             "Iceberg-catalog warehouses are validated by the pipeline "
             "itself)")
    chk.add_argument("--pages", required=True)
    chk.add_argument("--sources", default=None)
    chk.add_argument("--out", required=True)
    chk.add_argument("--cores", default=None)
    chk.set_defaults(fn=_cmd_check)

    shw = sub.add_parser(
        "show",
        help="inspect stored docs (parquet warehouses only — an "
             "Iceberg-catalog warehouse stores tables in the catalog, "
             "not under --out)")
    shw.add_argument("--out", required=True)
    shw.add_argument("--sha", default=None,
                     help="doc_sha1 or norm_sha256 prefix")
    shw.add_argument("--url", default=None)
    shw.add_argument("--body", action="store_true",
                     help="also print the fixed JSON-LD body")
    shw.add_argument("--limit", type=int, default=10)
    shw.add_argument("--cores", default=None)
    shw.set_defaults(fn=_cmd_show)

    prn = sub.add_parser(
        "prune",
        help="drop triple graphs with no backing doc (parquet "
             "warehouses only — see `show`)")
    prn.add_argument("--out", required=True)
    prn.add_argument("--bucket", default="gleaner")
    prn.add_argument("--dry-run", action="store_true")
    prn.add_argument("--cores", default=None)
    prn.set_defaults(fn=_cmd_prune)

    args = p.parse_args(argv)
    if getattr(args, "out", None):
        _recover_prune_swap(args.out)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
