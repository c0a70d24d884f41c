"""Milling: JSON-LD document → (subject, predicate, object, graph) rows.

The reference's ``Obj2RDF = JLD2nq ∘ GlobalUniqueBNodes``
(``internal/millers/graph/graphng.go:149-162``): convert a JSON-LD doc
to n-quads, then rename every blank node to a globally unique label
(``internal/millers/graph/bnodefix.go:16-67``).  The reference uses
random xid GUIDs, which makes its output non-reproducible across runs
(bnodefix.go:33-47); we use the deterministic ``_:b{doc_sha}_{n}``
namespace (first-encounter order) — same global-uniqueness guarantee,
but reproducible, which our P/R tests and resume semantics require.

The graph URN column carries what the reference encodes in object names
(``milled/{source}/{sha}.rdf``) and prov URNs
(``urn:{bucket}:{source}:{sha}``, acquire/prov.go:96).

Output row schema == the reference's own Qset Parquet schema
(``internal/organizations/org.go:35-40``): four string columns.
"""

from __future__ import annotations

import json
from typing import NamedTuple

from .jsonld import Quad, RdfTerm, term_to_nq, to_rdf


class QuadRow(NamedTuple):
    subject: str
    predicate: str
    object: str
    graph: str


def skolemize(quads: list[Quad], doc_sha: str) -> list[Quad]:
    """Deterministic ``GlobalUniqueBNodes``: _:bN → _:b{sha}_{i} in
    first-encounter (subject-then-object, quad order) order — mirrors the
    reference's scan order (bnodefix.go:24-53)."""
    mapping: dict[str, str] = {}

    def rename(t: RdfTerm | None) -> RdfTerm | None:
        if t is None or t.kind != "blank":
            return t
        if t.value not in mapping:
            mapping[t.value] = f"_:b{doc_sha}_{len(mapping)}"
        return RdfTerm("blank", mapping[t.value])

    # first pass fixes encounter order exactly like the reference scanner
    for q in quads:
        rename(q.s)
        rename(q.o)
    for q in quads:
        rename(q.g)
    return [Quad(rename(q.s), q.p, rename(q.o), rename(q.g)) for q in quads]


def mill(jsonld: str | dict, doc_sha: str, graph_urn: str) -> list[QuadRow]:
    """Per-document mill contract (the reference's ``glcon tools rdf``
    single-doc probe, pkg/cli/rdf.go:40-102): JSON-LD → skolemized quad
    rows with serialized terms.

    Raises on unparseable/unprocessable documents (callers filter —
    ``isValid`` semantics, jsonutils.go:35-51).
    """
    doc = json.loads(jsonld) if isinstance(jsonld, (str, bytes)) else jsonld
    return term_to_nq_rows(skolemize(to_rdf(doc), doc_sha), graph_urn)


def term_to_nq_rows(quads: list[Quad], graph_urn: str = "") -> list[QuadRow]:
    """Serialize skolemized quads to QuadRows — the package's one quad →
    n-quads term serializer.  The Spark side leaves ``graph_urn`` empty:
    there the graph is a plain column expression."""
    return [
        QuadRow(
            subject=term_to_nq(q.s),
            predicate=term_to_nq(q.p),
            object=term_to_nq(q.o),
            graph=graph_urn,
        )
        for q in quads
    ]


def mill_nquads(jsonld: str | dict, doc_sha: str) -> str:
    """n-quads text for one doc (the ``milled/{source}/{sha}.rdf`` body)."""
    return "".join(f"{r.subject} {r.predicate} {r.object} .\n"
                   for r in mill(jsonld, doc_sha, ""))
