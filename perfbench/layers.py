"""Per-layer measurement: the pipeline re-composed from its layers'
public functions with a span around each call, and a Spark-free
profile of the per-document ``core`` functions.

``traced_pipeline`` follows ``plans.pipeline._run_pipeline`` step by
step (parquet stand-in, no Iceberg catalog) so that its outputs equal a
``run_pipeline`` call on the same input — the benchmark checks that with
the triples digest.  Two deliberate differences, both visible in the
trace: every stage output is materialized inside its own span (write
parquet, read back; in diff mode checkpoint and append, as
``_persist`` does), and the bookkeeping writes run serially in one
span instead of on the pipeline's background thread.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

from checks import expected_blocks, page_host, source_config

BUCKET = "gleaner"


def _persist(df, out: str, name: str, mode: str,
             partition_by: list[str] | None = None):
    from gleaner_spark.functions.barrier import reliable_ckpt

    path = os.path.join(out, name)
    if mode == "append":
        df = reliable_ckpt(df)
        w = df.write.mode("append")
        (w.partitionBy(*partition_by) if partition_by else w).parquet(path)
        return df
    w = df.write.mode("overwrite")
    (w.partitionBy(*partition_by) if partition_by else w).parquet(path)
    return df.sparkSession.read.parquet(path).select(*df.columns)


def resume_probe(spark, pages, out: str, tracer):
    """The resume step of a diff run: manifest read, skipped-URL count
    and the left-anti join.  Returns (remaining pages, skipped)."""
    from pyspark.sql import functions as F
    from gleaner_spark.operators import manifest as mf

    with tracer.span("resume"):
        manifest = mf.read_manifest(spark, out)
        if manifest is None:
            return pages, None
        done = (manifest.filter(F.col("stage") == "extract")
                .select("url").distinct())
        skipped = pages.join(done, "url", "left_semi").count()
        return pages.join(done, "url", "left_anti"), skipped


def traced_pipeline(spark, pages, sources_dim, out: str, run_id: str,
                    mode: str, tracer):
    """One pipeline call, span by span.  Returns (resume skip count or
    None in full mode, the linker's input, the materialized triples)."""
    from pyspark.sql import functions as F
    from gleaner_spark.operators import manifest as mf
    from gleaner_spark.operators.link import link_stage
    from gleaner_spark.operators.provenance import (
        org_triples, partition_lineage, prov_lineage,
    )
    from gleaner_spark.operators.stages import (
        dedup_docs, extract_stage, materialize_triples, mill_stage,
        normalize_stage, structured_stage, with_source,
    )
    from gleaner_spark.operators.stats import run_stats

    wm = "append" if mode == "diff" else "overwrite"
    os.makedirs(out, exist_ok=True)
    skipped = None
    if mode == "diff":
        pages, skipped = resume_probe(spark, pages, out, tracer)
    with tracer.span("stages.extract"):
        blocks = _persist(extract_stage(with_source(pages, sources_dim)),
                          out, "blocks", wm)
    with tracer.span("stages.normalize"):
        docs_all = _persist(normalize_stage(blocks), out, "processed", wm)
    with tracer.span("stages.dedup"):
        docs = dedup_docs(docs_all)
        prior_docs = os.path.join(out, "docs")
        if mode == "diff" and os.path.exists(prior_docs):
            # cross-run dedup against the docs earlier runs landed
            prior = spark.read.parquet(prior_docs).select("doc_sha1")
            docs = docs.join(prior, "doc_sha1", "left_anti")
        docs = _persist(docs, out, "docs", wm)
    with tracer.span("stages.mill"):
        triples = mill_stage(docs, BUCKET)
        if sources_dim is not None and mode != "diff":
            triples = triples.unionByName(org_triples(sources_dim, BUCKET))
        triples = triples.unionByName(structured_stage(blocks, BUCKET))
        raw = triples = _persist(triples, out, "raw_triples", wm).persist()
    with tracer.span("link"):
        triples = link_stage(triples)
    with tracer.span("stages.materialize"):
        triples = _persist(materialize_triples(triples), out, "triples", wm,
                           ["source"])
    with tracer.span("bookkeeping"):
        lineage = os.path.join(out, "lineage")
        mf.write_manifest(mf.build_extract_manifest(blocks, run_id), out)
        partition_lineage(blocks, run_id, "extract").write.mode(
            "append").parquet(lineage)
        mf.write_manifest(mf.build_docs_manifest(docs, run_id), out)
        partition_lineage(docs, run_id, "normalize").write.mode(
            "append").parquet(lineage)
        partition_lineage(triples, run_id, "materialize").write.mode(
            "append").parquet(lineage)
        prov_lineage(docs.filter(F.col("valid")), sources_dim, run_id,
                     BUCKET).write.mode(wm).parquet(os.path.join(out, "prov"))
        run_stats(blocks, docs_all).write.mode("overwrite").parquet(
            os.path.join(out, "stats"))
    raw.unpersist()
    return skipped, raw, triples


CORE_STEPS = ("extract", "structured", "process_document", "fix_all",
              "to_rdf", "urdna2015", "identifier", "skolemize")


def _core_pass(prepared) -> dict[str, float]:
    from gleaner_spark.core import structured as core_structured
    from gleaner_spark.core.contextfix import fix_all
    from gleaner_spark.core.ids import generate_identifier_from
    from gleaner_spark.core.jsonld import to_rdf, urdna2015
    from gleaner_spark.core.mill import skolemize, term_to_nq_rows
    from gleaner_spark.core.process import process_document

    clock = time.perf_counter
    acc: dict[str, float] = defaultdict(float)
    n_blocks = n_decomposed = n_quads = 0
    for html, url, (fix, id_type, id_path) in prepared:
        t = clock()
        blocks = expected_blocks(html, url)
        acc["extract"] += clock() - t
        t = clock()
        s = html.decode("utf-8", errors="replace")
        if ("itemscope" in s or "property=" in s or "typeof=" in s
                or "vocab=" in s):
            core_structured.page_structured(s)
        acc["structured"] += clock() - t
        for jsonld, _via in blocks:
            n_blocks += 1
            t = clock()
            p = process_document(jsonld, fix, id_type, id_path)
            acc["process_document"] += clock() - t
            if not p.valid:
                continue
            # the same steps process_document chains, timed one by one
            t = clock()
            fixed = fix_all(jsonld, fix)
            t1 = clock()
            quads = to_rdf(json.loads(fixed))
            t2 = clock()
            normalized = urdna2015(quads)
            t3 = clock()
            ident = generate_identifier_from(fixed, normalized, id_type,
                                             id_path)
            t4 = clock()
            rows = term_to_nq_rows(skolemize(quads, ident.unique_id))
            t5 = clock()
            acc["fix_all"] += t1 - t
            acc["to_rdf"] += t2 - t1
            acc["urdna2015"] += t3 - t2
            acc["identifier"] += t4 - t3
            acc["skolemize"] += t5 - t4
            n_decomposed += 1
            n_quads += len(rows)
    per = {"extract": len(prepared), "structured": len(prepared),
           "process_document": n_blocks}
    out = {f"core.{k}_ms": 1e3 * acc[k] / max(per.get(k, n_decomposed), 1)
           for k in CORE_STEPS}
    out["core.quads_per_block"] = n_quads / max(n_decomposed, 1)
    return out


def core_profile(pages: list[dict], sources: list[dict],
                 passes: int = 3) -> dict[str, float]:
    """Per-page and per-block milliseconds of the ``core`` functions on
    ``pages``: one untimed pass (lazy parsers and contexts load), then
    the median of ``passes`` timed passes."""
    cfg = source_config(sources)
    prepared = [(p["html"], p["url"],
                 cfg.get(page_host(p["url"]), ("https", "jsonsha", "")))
                for p in pages]
    _core_pass(prepared)
    runs = [_core_pass(prepared) for _ in range(passes)]
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]}
