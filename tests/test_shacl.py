"""Relational SHACL-lite: shapes-graph parsing and constraint
evaluation (sh:minCount / sh:maxCount / sh:nodeKind / sh:datatype /
sh:class), plus 64-bit SimHash core↔Spark parity."""

from __future__ import annotations

import pytest

from gleaner_spark.core.mill import mill
from gleaner_spark.operators.shacl import (
    NodeShape,
    PropertyConstraint,
    shape_conformance,
    shapes_from_triples,
)

SCHEMA = "https://schema.org/"
T = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


def _triples(spark, rows):
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string"
    )


def test_shapes_graph_parsed_from_milled_jsonld():
    doc = (
        '{"@context": {"sh": "http://www.w3.org/ns/shacl#",'
        ' "schema": "https://schema.org/"},'
        ' "@id": "https://ex.org/shapes/S",'
        ' "@type": "sh:NodeShape",'
        ' "sh:targetClass": {"@id": "schema:Dataset"},'
        ' "sh:property": ['
        '  {"sh:path": {"@id": "schema:name"}, "sh:minCount": 1,'
        '   "sh:maxCount": 2,'
        '   "sh:nodeKind": {"@id": "sh:Literal"}},'
        '  {"sh:path": {"@id": "schema:creator"}, "sh:minCount": 1,'
        '   "sh:class": {"@id": "schema:Organization"}}]}'
    )
    rows = [(r.subject, r.predicate, r.object) for r in mill(doc, "sh", "")]
    shapes = shapes_from_triples(rows)
    assert len(shapes) == 1
    s = shapes[0]
    assert s.shape_id == "https://ex.org/shapes/S"
    assert s.target_class == SCHEMA + "Dataset"
    by_path = {c.path: c for c in s.properties}
    name = by_path[SCHEMA + "name"]
    assert (name.min_count, name.max_count, name.node_kind) == (1, 2, "Literal")
    creator = by_path[SCHEMA + "creator"]
    assert creator.class_iri == SCHEMA + "Organization"


def test_conformance_min_max_nodekind(spark):
    shape = NodeShape(
        "S", SCHEMA + "Dataset",
        [PropertyConstraint(SCHEMA + "name", min_count=1, max_count=2,
                            node_kind="Literal")],
    )
    rows = [
        ("<a>", T, f"<{SCHEMA}Dataset>"),
        ("<a>", f"<{SCHEMA}name>", '"ok"'),
        ("<b>", T, f"<{SCHEMA}Dataset>"),            # missing name
        ("<c>", T, f"<{SCHEMA}Dataset>"),            # too many names
        ("<c>", f"<{SCHEMA}name>", '"1"'),
        ("<c>", f"<{SCHEMA}name>", '"2"'),
        ("<c>", f"<{SCHEMA}name>", '"3"'),
        ("<d>", T, f"<{SCHEMA}Dataset>"),            # IRI name ≠ Literal
        ("<d>", f"<{SCHEMA}name>", "<https://x.org/n>"),
        ("<e>", f"<{SCHEMA}name>", '"not a target"'),  # not targeted
    ]
    got = {
        r.subject: r.conforms
        for r in shape_conformance(_triples(spark, rows), [shape]).collect()
    }
    assert got == {"<a>": True, "<b>": False, "<c>": False, "<d>": False}


def test_conformance_datatype_and_class(spark):
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    shape = NodeShape(
        "S", SCHEMA + "Dataset",
        [
            PropertyConstraint(SCHEMA + "version", min_count=1,
                               datatype=xsd_int),
            PropertyConstraint(SCHEMA + "creator", min_count=1,
                               class_iri=SCHEMA + "Organization"),
        ],
    )
    rows = [
        ("<a>", T, f"<{SCHEMA}Dataset>"),
        ("<a>", f"<{SCHEMA}version>", f'"3"^^<{xsd_int}>'),
        ("<a>", f"<{SCHEMA}creator>", "<org1>"),
        ("<org1>", T, f"<{SCHEMA}Organization>"),
        ("<b>", T, f"<{SCHEMA}Dataset>"),
        ("<b>", f"<{SCHEMA}version>", '"3"'),        # plain string, not int
        ("<b>", f"<{SCHEMA}creator>", "<org1>"),
        ("<c>", T, f"<{SCHEMA}Dataset>"),
        ("<c>", f"<{SCHEMA}version>", f'"1"^^<{xsd_int}>'),
        ("<c>", f"<{SCHEMA}creator>", "<person1>"),  # not an Organization
        ("<person1>", T, f"<{SCHEMA}Person>"),
    ]
    got = {
        r.subject: r.conforms
        for r in shape_conformance(_triples(spark, rows), [shape]).collect()
    }
    assert got == {"<a>": True, "<b>": False, "<c>": False}


def test_conformance_requires_a_shape(spark):
    with pytest.raises(ValueError, match="no NodeShape"):
        shape_conformance(_triples(spark, [("<a>", T, "<t>")]), [])


def test_simhash64_core_vs_spark_parity(spark):
    from pyspark.sql import functions as F

    from gleaner_spark.core.text import simhash64_hex
    from gleaner_spark.plans.queries import (
        _simhash64_pack_ints, _simhash64_sums,
    )

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "Völlig anderer Text mit Umlauten über alles"),
        (3, "a"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.doc_id: (r.sig_hi, r.sig_lo)
           for r in _simhash64_pack_ints(_simhash64_sums(df)).collect()}
    for i, t in texts:
        hi, lo = got[i]
        assert f"{hi:08x}{lo:08x}" == simhash64_hex(t), (i, t)
    # near-identical docs land within a small Hamming distance
    (a_hi, a_lo), (b_hi, b_lo) = got[0], got[1]
    assert bin(a_hi ^ b_hi).count("1") + bin(a_lo ^ b_lo).count("1") <= 16


def test_datatype_xsd_string_excludes_language_tagged(spark):
    """A language-tagged literal ("x"@en) has datatype rdf:langString,
    not xsd:string — it must NOT satisfy sh:datatype xsd:string
    (round-2 ADVICE)."""
    from gleaner_spark.operators.shacl import (
        NodeShape, PropertyConstraint, XSD_STRING, shape_conformance,
    )

    rows = [
        # s1: plain literal → conforms
        ("<s1>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         "<http://ex.org/T>", "g"),
        ("<s1>", "<http://ex.org/name>", '"plain"', "g"),
        # s2: language-tagged → does NOT count toward xsd:string
        ("<s2>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         "<http://ex.org/T>", "g"),
        ("<s2>", "<http://ex.org/name>", '"tagged"@en', "g"),
        # s3: a literal whose BODY ends with an @word but closes with a
        # quote is still a plain xsd:string
        ("<s3>", "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
         "<http://ex.org/T>", "g"),
        ("<s3>", "<http://ex.org/name>", '"mail me @en"', "g"),
    ]
    triples = spark.createDataFrame(
        rows, "subject string, predicate string, object string, graph string"
    )
    shape = NodeShape(
        shape_id="S", target_class="http://ex.org/T",
        properties=[PropertyConstraint(
            path="http://ex.org/name", min_count=1, datatype=XSD_STRING)],
    )
    got = {r.subject: r.conforms
           for r in shape_conformance(triples, [shape]).collect()}
    assert got == {"<s1>": True, "<s2>": False, "<s3>": True}


def test_conformance_pattern_and_hasvalue(spark):
    """sh:pattern (every literal must match) and sh:hasValue (the term
    must occur) fold into the conformance roll-up."""
    from gleaner_spark.operators.shacl import (
        NodeShape, PropertyConstraint, shape_conformance,
    )

    t = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    rows = [
        ("<s1>", t, "<http://ex.org/T>", "g"),
        ("<s1>", "<http://ex.org/doi>", '"doi:10.5/1"', "g"),
        ("<s1>", "<http://ex.org/lic>", "<http://ex.org/CC0>", "g"),
        ("<s2>", t, "<http://ex.org/T>", "g"),         # pattern violation
        ("<s2>", "<http://ex.org/doi>", '"bad"', "g"),
        ("<s2>", "<http://ex.org/lic>", "<http://ex.org/CC0>", "g"),
        ("<s3>", t, "<http://ex.org/T>", "g"),         # hasValue violation
        ("<s3>", "<http://ex.org/doi>", '"doi:10.5/3"', "g"),
        ("<s3>", "<http://ex.org/lic>", "<http://ex.org/Other>", "g"),
    ]
    triples = spark.createDataFrame(
        rows, "subject string, predicate string, object string, graph string"
    )
    shape = NodeShape(
        shape_id="S", target_class="http://ex.org/T",
        properties=[
            PropertyConstraint(path="http://ex.org/doi", pattern="^doi:"),
            PropertyConstraint(path="http://ex.org/lic",
                               has_value="<http://ex.org/CC0>"),
        ],
    )
    got = {r.subject: r.conforms
           for r in shape_conformance(triples, [shape]).collect()}
    assert got == {"<s1>": True, "<s2>": False, "<s3>": False}


def test_conformance_sh_node_recursive(spark):
    """sh:node: values must conform to a referenced (target-less)
    shape, evaluated recursively over the values as focus nodes."""
    from gleaner_spark.operators.shacl import (
        NodeShape, PropertyConstraint, shape_conformance,
    )

    t = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    rows = [
        ("<d1>", t, "<http://ex.org/T>", "g"),
        ("<d1>", "<http://ex.org/creator>", "<p1>", "g"),
        ("<p1>", "<http://ex.org/name>", '"Ada"', "g"),   # conforms
        ("<d2>", t, "<http://ex.org/T>", "g"),
        ("<d2>", "<http://ex.org/creator>", "<p2>", "g"),  # p2: no name
    ]
    triples = spark.createDataFrame(
        rows, "subject string, predicate string, object string, graph string"
    )
    person = NodeShape(
        shape_id="P", target_class="",
        properties=[PropertyConstraint(path="http://ex.org/name",
                                       min_count=1)],
    )
    top = NodeShape(
        shape_id="S", target_class="http://ex.org/T",
        properties=[PropertyConstraint(path="http://ex.org/creator",
                                       node_shape="P")],
    )
    got = {r.subject: r.conforms
           for r in shape_conformance(triples, [top],
                                      {"P": person}).collect()}
    assert got == {"<d1>": True, "<d2>": False}

    import pytest

    with pytest.raises(ValueError, match="unknown shape"):
        shape_conformance(triples, [top], {}).collect()


def test_conformance_sh_or_value_alternatives(spark):
    """sh:or: each value must satisfy at least one alternative
    (nodeKind IRI OR pattern ^ok:)."""
    from gleaner_spark.operators.shacl import (
        NodeShape, PropertyConstraint, shape_conformance,
    )

    t = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    rows = [
        ("<d1>", t, "<http://ex.org/T>", "g"),
        ("<d1>", "<http://ex.org/ref>", "<http://ref/1>", "g"),   # IRI ok
        ("<d2>", t, "<http://ex.org/T>", "g"),
        ("<d2>", "<http://ex.org/ref>", '"ok:2"', "g"),            # pat ok
        ("<d3>", t, "<http://ex.org/T>", "g"),
        ("<d3>", "<http://ex.org/ref>", '"nope"', "g"),            # fails both
    ]
    triples = spark.createDataFrame(
        rows, "subject string, predicate string, object string, graph string"
    )
    shape = NodeShape(
        shape_id="S", target_class="http://ex.org/T",
        properties=[PropertyConstraint(
            path="http://ex.org/ref",
            or_alternatives=[
                PropertyConstraint(path="", node_kind="IRI"),
                PropertyConstraint(path="", pattern="^ok:"),
            ],
        )],
    )
    got = {r.subject: r.conforms
           for r in shape_conformance(triples, [shape]).collect()}
    assert got == {"<d1>": True, "<d2>": True, "<d3>": False}


def test_sh_or_rdf_list_form_parses_alternatives():
    """Spec SHACL serializes sh:or as an RDF list (rdf:first/rdf:rest);
    the parser must follow the chain instead of treating the list head
    as one constraint-less (always-true) alternative (round-3 ADVICE)."""
    from gleaner_spark.operators.shacl import shapes_from_triples

    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    sh = "http://www.w3.org/ns/shacl#"
    rows = [
        ("<https://ex.org/S>", T, f"<{sh}NodeShape>"),
        ("<https://ex.org/S>", f"<{sh}targetClass>", "<http://ex.org/T>"),
        ("<https://ex.org/S>", f"<{sh}property>", "_:p"),
        ("_:p", f"<{sh}path>", "<http://ex.org/ref>"),
        ("_:p", f"<{sh}or>", "_:l1"),
        ("_:l1", f"<{rdf}first>", "_:a1"),
        ("_:l1", f"<{rdf}rest>", "_:l2"),
        ("_:l2", f"<{rdf}first>", "_:a2"),
        ("_:l2", f"<{rdf}rest>", f"<{rdf}nil>"),
        ("_:a1", f"<{sh}nodeKind>", f"<{sh}IRI>"),
        ("_:a2", f"<{sh}pattern>", '"^ok:"'),
    ]
    [shape] = shapes_from_triples(rows)
    [c] = shape.properties
    alts = {(a.node_kind, a.pattern) for a in c.or_alternatives}
    assert alts == {("IRI", None), (None, "^ok:")}


def test_sh_or_constraintless_alternative_raises():
    """A sh:or alternative carrying no recognized value-level constraint
    must raise, not silently accept every value."""
    from gleaner_spark.operators.shacl import shapes_from_triples

    sh = "http://www.w3.org/ns/shacl#"
    rows = [
        ("<https://ex.org/S>", T, f"<{sh}NodeShape>"),
        ("<https://ex.org/S>", f"<{sh}targetClass>", "<http://ex.org/T>"),
        ("<https://ex.org/S>", f"<{sh}property>", "_:p"),
        ("_:p", f"<{sh}path>", "<http://ex.org/ref>"),
        ("_:p", f"<{sh}or>", "_:empty"),
        # _:empty has no triples at all — the fail-open shape
    ]
    with pytest.raises(ValueError, match="no recognized constraint"):
        shapes_from_triples(rows)


def test_conformance_per_value_nodekind_datatype(spark):
    """A focus node with one conforming value plus one wrong-kind /
    wrong-datatype value must NOT conform, matching the validation
    report's per-value semantics (round-3 ADVICE)."""
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    shape = NodeShape(
        "S", SCHEMA + "Dataset",
        [
            PropertyConstraint(SCHEMA + "url", min_count=1,
                               node_kind="IRI"),
            PropertyConstraint(SCHEMA + "version", min_count=1,
                               datatype=xsd_int),
        ],
    )
    rows = [
        # a: clean
        ("<a>", T, f"<{SCHEMA}Dataset>"),
        ("<a>", f"<{SCHEMA}url>", "<https://ok/1>"),
        ("<a>", f"<{SCHEMA}version>", f'"1"^^<{xsd_int}>'),
        # b: good url + literal url sibling → per-value NodeKind violation
        ("<b>", T, f"<{SCHEMA}Dataset>"),
        ("<b>", f"<{SCHEMA}url>", "<https://ok/2>"),
        ("<b>", f"<{SCHEMA}url>", '"not-an-iri"'),
        ("<b>", f"<{SCHEMA}version>", f'"2"^^<{xsd_int}>'),
        # c: good version + plain-string sibling → Datatype violation
        ("<c>", T, f"<{SCHEMA}Dataset>"),
        ("<c>", f"<{SCHEMA}url>", "<https://ok/3>"),
        ("<c>", f"<{SCHEMA}version>", f'"3"^^<{xsd_int}>'),
        ("<c>", f"<{SCHEMA}version>", '"three"'),
    ]
    got = {r.subject: r.conforms
           for r in shape_conformance(_triples(spark, rows), [shape]).collect()}
    assert got == {"<a>": True, "<b>": False, "<c>": False}

    # consistency: the report emits a violation row exactly where
    # conformance said False
    from gleaner_spark.operators.shacl import shape_validation_report

    rep = shape_validation_report(_triples(spark, rows), [shape]).collect()
    assert {r.focus_node for r in rep} == {"<b>", "<c>"}
    comps = {(r.focus_node, r.constraint_component.rsplit("#")[-1]) for r in rep}
    assert comps == {("<b>", "NodeKindConstraintComponent"),
                     ("<c>", "DatatypeConstraintComponent")}


def test_pattern_matches_unescaped_lexical_form_and_iris(spark):
    """sh:pattern must see the VALUE's actual characters (a literal with
    a real newline serializes as \\n — two chars — in n-quads) and, per
    SHACL, applies to str(value) for IRIs too; blank nodes always fail
    (round-3 ADVICE)."""
    shape = NodeShape(
        "S", SCHEMA + "Dataset",
        [PropertyConstraint(SCHEMA + "desc", min_count=1,
                            pattern="^line1\nline2$")],
    )
    iri_shape = NodeShape(
        "S2", SCHEMA + "Dataset",
        [PropertyConstraint(SCHEMA + "url", min_count=1,
                            pattern="^https://ok\\.example/")],
    )
    rows = [
        # a: literal containing a REAL newline (serialized escaped)
        ("<a>", T, f"<{SCHEMA}Dataset>"),
        ("<a>", f"<{SCHEMA}desc>", '"line1\\nline2"'),
        ("<a>", f"<{SCHEMA}url>", "<https://ok.example/a>"),
        # b: literal whose body is literally backslash-n (escaped \\n)
        ("<b>", T, f"<{SCHEMA}Dataset>"),
        ("<b>", f"<{SCHEMA}desc>", '"line1\\\\nline2"'),
        ("<b>", f"<{SCHEMA}url>", "<https://bad.example/b>"),
        # c: blank-node value can never match a pattern
        ("<c>", T, f"<{SCHEMA}Dataset>"),
        ("<c>", f"<{SCHEMA}desc>", "_:blank"),
        ("<c>", f"<{SCHEMA}url>", "<https://ok.example/c>"),
    ]
    t = _triples(spark, rows)
    got = {r.subject: r.conforms
           for r in shape_conformance(t, [shape]).collect()}
    assert got == {"<a>": True, "<b>": False, "<c>": False}
    got_iri = {r.subject: r.conforms
               for r in shape_conformance(t, [iri_shape]).collect()}
    assert got_iri == {"<a>": True, "<b>": False, "<c>": True}


def test_sh_or_shape_valued_alternatives(spark):
    """sh:or alternatives beyond value level: sh:class, sh:node, and a
    nested property shape (sh:path+minCount with the VALUE as focus) —
    previously these raised; each value must satisfy >=1 alternative."""
    from gleaner_spark.operators.shacl import (
        shape_conformance, shape_validation_report,
    )

    person = f"<{SCHEMA}Person>"
    rows = [
        # shared instance data
        ("<p1>", T, person),
        ("<p1>", f"<{SCHEMA}name>", '"P One"'),
        ("<bare>", f"<{SCHEMA}name>", '"Bare Named"'),  # named, untyped
        # a: creator is a typed Person → sh:class alternative
        ("<a>", T, f"<{SCHEMA}Dataset>"),
        ("<a>", f"<{SCHEMA}creator>", "<p1>"),
        # b: creator literal matching ^text: → value-level alternative
        ("<b>", T, f"<{SCHEMA}Dataset>"),
        ("<b>", f"<{SCHEMA}creator>", '"text:somebody"'),
        # c: creator untyped but has a name → nested path+minCount alt
        ("<c>", T, f"<{SCHEMA}Dataset>"),
        ("<c>", f"<{SCHEMA}creator>", "<bare>"),
        # d: creator fails every alternative
        ("<d>", T, f"<{SCHEMA}Dataset>"),
        ("<d>", f"<{SCHEMA}creator>", "<nobody>"),
    ]
    shape = NodeShape(
        "S", SCHEMA + "Dataset",
        [PropertyConstraint(
            path=SCHEMA + "creator",
            min_count=1,
            or_alternatives=[
                PropertyConstraint(path="", pattern="^text:"),
                PropertyConstraint(path="", class_iri=SCHEMA + "Person"),
                PropertyConstraint(path=SCHEMA + "name", min_count=1),
            ],
        )],
    )
    t = _triples(spark, rows)
    got = {r.subject: r.conforms
           for r in shape_conformance(t, [shape]).collect()}
    assert got == {"<a>": True, "<b>": True, "<c>": True, "<d>": False}
    rep = shape_validation_report(t, [shape]).collect()
    assert {(r.focus_node, r.constraint_component.rsplit("#")[-1])
            for r in rep} == {("<d>", "OrConstraintComponent")}


def test_sh_or_node_alternative(spark):
    """sh:node inside sh:or: the value conforms to the referenced shape
    OR matches the value-level alternative."""
    from gleaner_spark.operators.shacl import shape_conformance

    strict = NodeShape(
        "https://ex.org/Strict", "",
        [PropertyConstraint(SCHEMA + "name", min_count=2)],
    )
    rows = [
        ("<two>", f"<{SCHEMA}name>", '"n1"'),
        ("<two>", f"<{SCHEMA}name>", '"n2"'),
        ("<one>", f"<{SCHEMA}name>", '"only"'),
        ("<a>", T, f"<{SCHEMA}Dataset>"),
        ("<a>", f"<{SCHEMA}ref>", "<two>"),      # conforms to Strict
        ("<b>", T, f"<{SCHEMA}Dataset>"),
        ("<b>", f"<{SCHEMA}ref>", '"ok:lit"'),   # value-level alt
        ("<c>", T, f"<{SCHEMA}Dataset>"),
        ("<c>", f"<{SCHEMA}ref>", "<one>"),      # fails both
    ]
    shape = NodeShape(
        "S", SCHEMA + "Dataset",
        [PropertyConstraint(
            path=SCHEMA + "ref",
            min_count=1,
            or_alternatives=[
                PropertyConstraint(path="", pattern="^ok:"),
                PropertyConstraint(path="", node_shape="https://ex.org/Strict"),
            ],
        )],
    )
    idx = {"https://ex.org/Strict": strict}
    got = {r.subject: r.conforms
           for r in shape_conformance(_triples(spark, rows), [shape],
                                      idx).collect()}
    assert got == {"<a>": True, "<b>": True, "<c>": False}


def test_sh_or_hasvalue_alternative(spark):
    """sh:hasValue inside sh:or degenerates to term equality on the
    value node."""
    from gleaner_spark.operators.shacl import shape_conformance

    rows = [
        ("<a>", T, f"<{SCHEMA}Dataset>"),
        ("<a>", f"<{SCHEMA}license>", "<https://ex.org/CC0>"),
        ("<b>", T, f"<{SCHEMA}Dataset>"),
        ("<b>", f"<{SCHEMA}license>", '"custom:mine"'),
        ("<c>", T, f"<{SCHEMA}Dataset>"),
        ("<c>", f"<{SCHEMA}license>", "<https://ex.org/Proprietary>"),
    ]
    shape = NodeShape(
        "S", SCHEMA + "Dataset",
        [PropertyConstraint(
            path=SCHEMA + "license",
            min_count=1,
            or_alternatives=[
                PropertyConstraint(path="", has_value="<https://ex.org/CC0>"),
                PropertyConstraint(path="", pattern="^custom:"),
            ],
        )],
    )
    got = {r.subject: r.conforms
           for r in shape_conformance(_triples(spark, rows), [shape]).collect()}
    assert got == {"<a>": True, "<b>": True, "<c>": False}


def test_sh_or_mixed_alternative_ands_all_constraints(spark):
    """Review finding: an alternative carrying BOTH value-level and
    shape-valued constraints must require all of them — nodeKind IRI +
    sh:class Person is satisfied only by Person-typed IRIs, and a
    count constraint without a path raises instead of being dropped."""
    from gleaner_spark.operators.shacl import shape_conformance

    person = f"<{SCHEMA}Person>"
    rows = [
        ("<p1>", T, person),
        ("<a>", T, f"<{SCHEMA}Dataset>"),
        ("<a>", f"<{SCHEMA}creator>", "<p1>"),       # IRI AND Person
        ("<b>", T, f"<{SCHEMA}Dataset>"),
        ("<b>", f"<{SCHEMA}creator>", "<untyped>"),  # IRI but not Person
        ("<c>", T, f"<{SCHEMA}Dataset>"),
        ("<c>", f"<{SCHEMA}creator>", '"fallback"'),  # literal alt
    ]
    shape = NodeShape(
        "S", SCHEMA + "Dataset",
        [PropertyConstraint(
            path=SCHEMA + "creator", min_count=1,
            or_alternatives=[
                PropertyConstraint(path="", node_kind="IRI",
                                   class_iri=SCHEMA + "Person"),
                PropertyConstraint(path="", node_kind="Literal"),
            ],
        )],
    )
    got = {r.subject: r.conforms
           for r in shape_conformance(_triples(spark, rows), [shape]).collect()}
    assert got == {"<a>": True, "<b>": False, "<c>": True}

    bad = NodeShape(
        "S2", SCHEMA + "Dataset",
        [PropertyConstraint(
            path=SCHEMA + "creator",
            or_alternatives=[PropertyConstraint(path="", node_kind="IRI",
                                                min_count=5)],
        )],
    )
    with pytest.raises(ValueError, match="requires\\s+sh:path"):
        shape_conformance(_triples(spark, rows), [bad]).collect()


def test_nt_unescape_control_chars_roundtrip(spark):
    """ADVICE r4: a source literal containing U+0000 (or any C0/DEL)
    must survive serialize→unescape — the serializer UCHAR-escapes
    control chars and the sentinel is a PUA run that no decode step can
    produce, so sh:pattern matches against the true value characters."""
    from pyspark.sql import functions as F

    from gleaner_spark.core.jsonld import _escape
    from gleaner_spark.operators.shacl import _nt_unescape_expr

    vals = [
        "a\x00b",                       # raw NUL — the reported corruption
        "a\\u0000b",                    # literal TEXT '\\u0000' (7 chars)
        'tab\t nl\n bs\\ q" nul\x00',   # every ECHAR + NUL together
        "\x01\x1f\x7f",                 # other C0 + DEL
        "\\\x00",                       # escaped backslash adjacent to NUL
    ]
    esc = [_escape(v) for v in vals]
    assert "\\u0000" in esc[0] and "\x00" not in esc[0]
    df = spark.createDataFrame([(e,) for e in esc], "s string")
    out = [r.o for r in
           df.select(_nt_unescape_expr(F.col("s")).alias("o")).collect()]
    assert out == vals


def test_report_subplan_count_sublinear_in_shapes(spark):
    """VERDICT r4 #4: value-level constraint families must not add one
    sub-plan per (shape, constraint, component).  With 50 shapes × 4
    value-level constraints the optimized plan should stay within a
    small constant factor of the 5-shape plan (constraint metadata is
    a broadcast dim table, not plan), and the report itself must stay
    correct."""
    from gleaner_spark.operators.shacl import shape_validation_report

    def mk_shapes(n):
        return [
            NodeShape(
                shape_id=f"{SCHEMA}S{k}",
                target_class=f"{SCHEMA}T{k}",
                properties=[
                    PropertyConstraint(path=f"{SCHEMA}name", min_count=1),
                    PropertyConstraint(path=f"{SCHEMA}url", node_kind="IRI"),
                    PropertyConstraint(path=f"{SCHEMA}v",
                                       datatype=f"{SCHEMA}Num"),
                    PropertyConstraint(path=f"{SCHEMA}code",
                                       pattern="^[A-Z]+$"),
                ],
            )
            for k in range(n)
        ]

    # 3 focus nodes per class: conforming / missing-name / bad-kind+pattern
    rows = []
    for k in range(50):
        for j, subj in enumerate((f"<urn:x:{k}:ok>", f"<urn:x:{k}:noname>",
                                  f"<urn:x:{k}:bad>")):
            rows.append((subj, T, f"<{SCHEMA}T{k}>"))
            if j != 1:
                rows.append((subj, f"<{SCHEMA}name>", '"n"'))
            if j == 2:
                rows.append((subj, f"<{SCHEMA}url>", '"not-an-iri"'))
                rows.append((subj, f"<{SCHEMA}code>", '"abc"'))
    triples = _triples(spark, rows)

    def plan_len(n):
        rep = shape_validation_report(triples, mk_shapes(n))
        return rep, len(
            rep._jdf.queryExecution().optimizedPlan().toString()
        )

    rep5, len5 = plan_len(5)
    rep50, len50 = plan_len(50)
    # 10× the shapes must cost well under 10× the plan (observed ~1×)
    assert len50 < 3 * len5, (len5, len50)

    got = {(r.focus_node, r.shape_id.rsplit("S", 1)[-1],
            r.constraint_component.rsplit("#", 1)[-1])
           for r in rep50.collect()}
    # exactly: 50 MinCount (noname), 50 NodeKind + 50 Pattern (bad)
    assert len(got) == 150
    assert all(c in ("MinCountConstraintComponent",
                     "NodeKindConstraintComponent",
                     "PatternConstraintComponent") for _, _, c in got)
    assert ("<urn:x:7:noname>", "7", "MinCountConstraintComponent") in got
    assert ("<urn:x:7:bad>", "7", "NodeKindConstraintComponent") in got
    assert ("<urn:x:7:bad>", "7", "PatternConstraintComponent") in got
