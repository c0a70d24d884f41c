"""Output checks, run outside the timed window on the tables a pipeline
call landed (read with pyarrow — no Spark job is added to the run).

- ``triples_digest``: order-independent digest of the ``triples`` table.
- ``rederive_processed``: the per-block rows of a sample of pages,
  recomputed Spark-free with ``core`` and compared to ``processed``.
- ``link_quality``: pairwise precision/recall of the sameAs links
  against the corpus' gold organisation clusters.
- ``docs_distinct``: ``docs`` holds each ``doc_sha1`` once.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import Counter

SAMEAS_GRAPH = "urn:gleaner:link:sameas"
SCHEMA_NAME = "<https://schema.org/name>"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
ORG_TYPE = "<https://schema.org/Organization>"


def _table(out: str, name: str, columns: list[str]):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(out, name), columns=columns)


def digest_rows(rows) -> tuple[int, str]:
    """(row count, hex digest) — sum of per-row md5 prefixes mod 2**64,
    so row order and file layout do not matter."""
    acc, n = 0, 0
    for r in rows:
        h = hashlib.md5("\x1f".join(r).encode("utf-8")).digest()
        acc = (acc + int.from_bytes(h[:8], "big")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, f"{acc:016x}"


def triples_digest(out: str) -> tuple[int, str]:
    cols = ["graph", "subject", "predicate", "object", "source"]
    t = _table(out, "triples", cols)
    return digest_rows(zip(*(t.column(c).to_pylist() for c in cols)))


def source_config(sources: list[dict]) -> dict[str, tuple[str, str, str]]:
    """host → (fixcontextoption, identifiertype, identifierpath) of the
    active sources — ``operators.stages.with_source`` semantics."""
    return {
        s["domain"]: (s["fixcontextoption"], s["identifiertype"],
                      s["identifierpath"])
        for s in sources if s["active"]
    }


def expected_blocks(html: bytes, url: str) -> list[tuple[str, str]]:
    """(jsonld, via) blocks of one page, the ``extract_page_udf`` way."""
    from gleaner_spark.core import extract as core_extract

    s = html.decode("utf-8", errors="replace")
    blocks = [(b, "static")
              for b in core_extract.extract_jsonld_strings(s, url)]
    if not blocks and ("application/ld+json" in s or '"@context"' in s
                       or '"@type"' in s or '"@graph"' in s):
        blocks = [(b, "js_inline") for b in core_extract.find_inline_jsonld(s)]
    return blocks


def page_host(url: str) -> str:
    """``operators.stages.url_host`` in Python."""
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)", url.strip())
    return m.group(1).lower() if m else ""


def rederive_processed(pages: list[dict], sources: list[dict]) -> set:
    """Expected ``processed`` rows of ``pages``: (url, block_idx, valid,
    doc_sha1, norm_sha256, sorted quads)."""
    from gleaner_spark.core.process import process_document

    cfg = source_config(sources)
    out = set()
    for p in pages:
        fix, id_type, id_path = cfg.get(page_host(p["url"]),
                                        ("https", "jsonsha", ""))
        for idx, (jsonld, _via) in enumerate(expected_blocks(p["html"],
                                                             p["url"])):
            d = process_document(jsonld, fix, id_type, id_path)
            quads = tuple(sorted((q.subject, q.predicate, q.object)
                                 for q in d.quads)) if d.valid else None
            out.add((p["url"], idx, d.valid, d.doc_sha1, d.norm_sha256,
                     quads))
    return out


def landed_processed(out: str, urls: set[str]) -> set:
    t = _table(out, "processed", ["url", "block_idx", "valid", "doc_sha1",
                                  "norm_sha256", "quads"]).to_pylist()
    rows = set()
    for r in t:
        if r["url"] not in urls:
            continue
        quads = (tuple(sorted((q["subject"], q["predicate"], q["object"])
                              for q in r["quads"]))
                 if r["quads"] is not None else None)
        rows.add((r["url"], r["block_idx"], r["valid"], r["doc_sha1"],
                  r["norm_sha256"], quads))
    return rows


def normalize_name(name: str) -> str:
    """The linker's name normalization (operators/link.py)."""
    return re.sub(r"[^a-z0-9]+", " ", name.lower()).strip()


def org_mentions(out: str) -> list[tuple[str, str]]:
    """Distinct (entity, name) of Organization-typed subjects in
    ``raw_triples`` — the linker's input mentions."""
    t = _table(out, "raw_triples", ["subject", "predicate", "object"])
    subj = t.column("subject").to_pylist()
    pred = t.column("predicate").to_pylist()
    obj = t.column("object").to_pylist()
    orgs = {s for s, p, o in zip(subj, pred, obj)
            if p == RDF_TYPE and o == ORG_TYPE}
    names = set()
    for s, p, o in zip(subj, pred, obj):
        if p == SCHEMA_NAME and s in orgs:
            m = re.match(r'^"(.*)"$', o)
            if m and m.group(1):
                names.add((s, re.sub(r'\\(["\\])', r"\1", m.group(1))))
    return sorted(names)


def sameas_pairs(out: str) -> list[tuple[str, str]]:
    t = _table(out, "triples", ["graph", "subject", "object"])
    return [(s, o) for g, s, o in zip(t.column("graph").to_pylist(),
                                      t.column("subject").to_pylist(),
                                      t.column("object").to_pylist())
            if g == SAMEAS_GRAPH]


def pairwise_quality(labels: list[tuple[str, str]]) -> tuple[float, float]:
    """(precision, recall) over all mention pairs; ``labels`` holds one
    (gold, predicted) cluster label per mention."""
    def pairs(counter: Counter) -> int:
        return sum(n * (n - 1) // 2 for n in counter.values())

    tp = pairs(Counter(labels))
    predicted = pairs(Counter(p for _, p in labels))
    gold = pairs(Counter(g for g, _ in labels))
    return (tp / predicted if predicted else 1.0,
            tp / gold if gold else 1.0)


def link_quality(out: str, gold_label: dict[str, str]) -> dict:
    """Pairwise precision/recall of the landed links against the gold
    clusters, over every Organization mention the linker received."""
    mentions = org_mentions(out)
    canon: dict[str, str] = {}
    pairs = sameas_pairs(out)
    for entity, target in pairs:
        canon[entity] = min(canon.get(entity, target), target)
    labelled = [(gold_label.get(n, "?" + normalize_name(n)), canon.get(e, e))
                for e, n in mentions]
    precision, recall = pairwise_quality(labelled)
    return {
        "precision": precision,
        "recall": recall,
        "mentions": len(labelled),
        "clusters": len({g for g, _ in labelled}),
        "names": len({normalize_name(n) for _, n in mentions}),
        "sameas_rows": len(pairs),
    }


def docs_distinct(out: str) -> tuple[int, int]:
    """(rows, distinct doc_sha1) of the docs table."""
    shas = _table(out, "docs", ["doc_sha1"]).column("doc_sha1").to_pylist()
    return len(shas), len(set(shas))
