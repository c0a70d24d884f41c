"""Vectorized pandas-UDF wrappers around the pure per-document core.

The pipeline's Python-side compute lives in two UDFs: ``extract_page_udf``
(one pass per page) and ``process_doc_udf`` (one pass per JSON-LD block:
normalize + identify + mill) — everything else is JVM-side column
expressions.  Two query-only UDFs sit beside them
(``structured_triples_udf``, ``winnow_fp_udf``).  Each wraps the
identical code object the unit tests exercise (``gleaner_spark.core``),
so per-document semantics are testable without Spark (the reference's
``glcon tools rdf`` probe pattern, pkg/cli/rdf.go).

Arrow batching notes: html pages are large, so batch size is bounded via
``spark.sql.execution.arrow.maxRecordsPerBatch`` (session.py); the UDFs
are stateless pure functions → safe under speculative execution and
task retry.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import extract as core_extract


_BLOCK_SCHEMA = T.ArrayType(
    T.StructType([
        T.StructField("jsonld", T.StringType()),
        T.StructField("via", T.StringType()),
    ])
)


_QUAD_FIELDS = T.StructType(
    [
        T.StructField("subject", T.StringType()),
        T.StructField("predicate", T.StringType()),
        T.StructField("object", T.StringType()),
    ]
)

PROCESS_SCHEMA = T.StructType(
    [
        T.StructField("jsonld_fixed", T.StringType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("doc_sha1", T.StringType()),
        T.StructField("id_type", T.StringType()),
        T.StructField("matched_path", T.StringType()),
        T.StructField("json_sha", T.StringType()),
        T.StructField("norm_sha256", T.StringType()),
        T.StructField("raw_sha1", T.StringType()),
        T.StructField("quads", T.ArrayType(_QUAD_FIELDS)),
    ]
)


@F.pandas_udf(PROCESS_SCHEMA)
def process_doc_udf(
    jsonld: pd.Series,
    fix_option: pd.Series,
    identifier_type: pd.Series,
    identifier_path: pd.Series,
) -> pd.DataFrame:
    """Fix-ups (P3-P7) + validity (P2) + identifier cascade (H1-H4) +
    north-rule sha256 graph id + milled quads (R1-R3), in one Arrow batch
    pass with ONE JSON-LD expansion and ONE URDNA2015 canonicalization
    per doc (core/process.py — the two-pass layout re-expanded every doc
    in the mill stage and doubled the pipeline's dominant Python cost)."""
    from ..core.process import process_document

    rows = []
    for raw, fix_opt, id_type, id_path in zip(
        jsonld, fix_option, identifier_type, identifier_path
    ):
        p = process_document(raw, fix_opt, id_type, id_path)
        rows.append(
            (p.jsonld_fixed, p.valid, p.error, p.doc_sha1, p.id_type,
             p.matched_path, p.json_sha, p.norm_sha256, p.raw_sha1,
             [(q.subject, q.predicate, q.object) for q in p.quads]
             if p.valid else None)
        )
    return pd.DataFrame(
        rows, columns=[f.name for f in PROCESS_SCHEMA.fields]
    )


# The function is pure; it is marked nondeterministic only so that the
# optimizer keeps it in place.  A filter above a deterministic projection
# is pushed below it with the UDF call substituted into the predicate, so
# without the marker ``normalize_stage(...).filter(F.col("valid"))`` over
# an un-materialized frame evaluates the UDF twice, in the filter and in
# the projection.  The marker's one other effect: the struct's alias
# stays a projection of its own, in the same codegen stage as the field
# reads.
process_doc_udf = process_doc_udf.asNondeterministic()


@F.pandas_udf(T.StringType())
def winnow_fp_udf(texts: pd.Series) -> pd.Series:
    """Winnowing document fingerprint (core/text.py) — the one text op
    whose 64-bit modular rolling hash is not portable SQL."""
    from ..core.text import winnow_fingerprint

    return pd.Series(
        ["|".join(hex(h)[2:] for h in winnow_fingerprint(t or ""))
         for t in texts]
    )


_STRUCTURED_SCHEMA = T.ArrayType(
    T.StructType([
        T.StructField("subject", T.StringType()),
        T.StructField("predicate", T.StringType()),
        T.StructField("object", T.StringType()),
        T.StructField("syntax", T.StringType()),
    ])
)


@F.pandas_udf(_STRUCTURED_SCHEMA)
def structured_triples_udf(html: pd.Series) -> pd.Series:
    """html binary → array of (subject, predicate, object, syntax) from
    microdata + RDFa Lite markup (core/structured.py).  Beyond reference
    parity — the Go harvest is JSON-LD-only (acquire.go:216-252) — but
    part of this engine's north-star extraction surface; terms use the
    same n-quads shapes the mill emits, so downstream stages are shared."""
    from ..core import structured as core_structured

    def one(h):
        if h is None:
            return []
        s = bytes(h).decode("utf-8", errors="replace")
        try:
            return core_structured.structured_triples(s)
        except Exception:
            return []

    return pd.Series([one(h) for h in html])


EXTRACT_PAGE_SCHEMA = T.StructType([
    T.StructField("blocks", _BLOCK_SCHEMA),
    T.StructField("sd_sha", T.StringType()),
    T.StructField("sd", _STRUCTURED_SCHEMA),
    T.StructField("has_ldjson_marker", T.BooleanType()),
])


@F.pandas_udf(EXTRACT_PAGE_SCHEMA)
def extract_page_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """Fused per-page extraction: JSON-LD blocks — the static script-tag
    extraction (``via = 'static'``, byte-identity contract: each block is
    the verbatim script-tag inner text, or the verbatim body for
    .json/.jsonld URLs) plus, ONLY when a page yields zero static blocks
    and its bytes hint at embedded JSON-LD, the conservative JS-inline
    recovery (``via = 'js_inline'``, core/extract.find_inline_jsonld) —
    PLUS the microdata/RDFa Lite structured triples
    (core/structured.page_structured, blank nodes skolemized per content
    sha) in ONE Arrow pass.  At web scale the raw html is the dominant
    IO + transfer cost of the whole job — fusing means it is scanned,
    Arrow-shipped and utf-8-decoded exactly once, and every per-page
    parse shares that decode.  Both gates run Python-side on the
    already-decoded string (a column-level ``F.when(gate, udf)`` would
    NOT short-circuit — Spark extracts Python UDFs out of conditionals
    and evaluates them on every row)."""
    from ..core import structured as core_structured

    blocks_out: list = []
    shas: list = []
    sds: list = []
    markers: list = []
    for h, u in zip(html, url):
        blocks: list = []
        sha, trips = "", []
        marker = False
        if h is not None:
            s = bytes(h).decode("utf-8", errors="replace")
            # headless-coverage signal (S5 gap metric) — folded into
            # this pass so the JVM never re-decodes the html bytes just
            # to substring-scan them (a second full pass at web scale)
            marker = "application/ld+json" in s
            blocks = [(b, "static")
                      for b in core_extract.extract_jsonld_strings(s, u or "")]
            if not blocks and (
                "application/ld+json" in s or '"@context"' in s
                or '"@type"' in s or '"@graph"' in s
            ):
                blocks = [(b, "js_inline")
                          for b in core_extract.find_inline_jsonld(s)]
            # structured-markup gate: microdata needs ``itemscope``,
            # RDFa Lite needs a property=/typeof=/vocab= attribute — the
            # gate admits every page that could yield a triple, a false
            # positive just costs one parse
            if ("itemscope" in s or "property=" in s or "typeof=" in s
                    or "vocab=" in s):
                try:
                    sha, trips = core_structured.page_structured(s)
                except Exception:
                    sha, trips = "", []
        blocks_out.append(blocks)
        shas.append(sha)
        sds.append(trips)
        markers.append(marker)
    return pd.DataFrame({"blocks": blocks_out, "sd_sha": shas, "sd": sds,
                         "has_ldjson_marker": markers})
