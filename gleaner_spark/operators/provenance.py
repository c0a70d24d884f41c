"""Org-graph and PROV-O lineage synthesis (R4, R5) plus per-partition
lineage rows (north rule).

The reference renders Go text/templates per source / per document
(``internal/organizations/org.go:18-33,44-94``;
``internal/summoner/acquire/prov.go:70-173``) and stores each as a
separate object.  Here both are column expressions over DataFrames —
``struct``/``to_json`` builds the JSON-LD, the same process UDF that
mills every harvested doc turns the org docs into triples, and lineage
is a table instead of object spray.

Quirk note: the reference generates prov *before* upload success
(jsonutils.go:375-378) so prov can exist for failed stores; our lineage
rows are emitted from the materialized docs table, i.e. transactional
per partition (SURVEY.md §2.8.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.udfs import process_doc_udf
from .stages import quad_rows

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


def org_jsonld(sources_dim: DataFrame) -> DataFrame:
    """One schema.org Organization JSON-LD doc per source (org.go:18-33):
    identifier = PID, name = ProperName, url = URL."""
    doc = F.to_json(
        F.struct(
            F.lit("https://schema.org/").alias("@context"),
            F.col("pid").alias("@id"),
            F.lit("Organization").alias("@type"),
            F.col("url").alias("url"),
            F.col("propername").alias("name"),
            F.struct(
                F.lit("PropertyValue").alias("@type"),
                F.col("pid").alias("value"),
                F.col("pid").alias("url"),
            ).alias("identifier"),
        )
    )
    # one org doc per source NAME, deterministic survivor — a duplicated
    # sources_dim row would otherwise emit duplicate quads into the
    # per-source org graph, which materialize_triples' rewritten-only
    # dedup path intentionally does not clean up
    uniq = (
        sources_dim.withColumn(
            "_rank", F.struct(F.col("pid"), F.col("url"), F.col("propername"))
        )
        .groupBy("name")
        .agg(F.min("_rank").alias("_keep"))
        .select(
            "name",
            F.col("_keep.pid").alias("pid"),
            F.col("_keep.url").alias("url"),
            F.col("_keep.propername").alias("propername"),
        )
    )
    return uniq.select(F.col("name").alias("source"), doc.alias("jsonld"))


def org_triples(sources_dim: DataFrame, bucket: str = "gleaner") -> DataFrame:
    """R4: org JSON-LD → triples via the same fix + mill contract as any
    harvested doc (the org doc uses a string @context), skolemized with
    its ``doc_sha1``; graph ``urn:{bucket}:{source}:org``."""
    proc = process_doc_udf(
        F.col("jsonld"), F.lit("https"), F.lit("jsonsha"), F.lit("")
    )
    return quad_rows(org_jsonld(sources_dim).select(
        "source", proc.quads.alias("quads"),
        F.concat_ws(":", F.lit("urn"), F.lit(bucket), F.col("source"),
                    F.lit("org")).alias("graph"),
    ))


PROV_CONTEXT = (
    '{"rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#", '
    '"prov": "http://www.w3.org/ns/prov#", '
    '"rdfs": "http://www.w3.org/2000/01/rdf-schema#"}'
)


def prov_lineage(docs: DataFrame, sources_dim: DataFrame | None,
                 run_id: str, bucket: str = "gleaner") -> DataFrame:
    """R5/J2: one PROV-O JSON-LD row per summoned doc, mirroring the
    reference's five-node template (prov.go:121-173):

    1. the source org (``@id`` = PID, ``rdf:name`` = ProperName,
       ``rdfs:seeAlso`` = Domain — joined from the sources dim with the
       reference's ``"unknown"`` defaults, prov.go:83-91),
    2. the harvested URL as a prov:Entity attributed to the org,
    3. a prov:Collection over the URL keyed by the doc sha,
    4. the graph URN ``urn:{bucket}:{source}:{sha}`` as a prov:Entity,
    5. the run as a prov:Activity that generated the URN.

    The run id stands in for the reference's wall-clock date+runid pair
    (determinism; quirk note in the module docstring).  The dim join is
    broadcast — sources are config-scale."""
    if sources_dim is not None:
        dim = sources_dim.select(
            F.col("name").alias("source"),
            F.col("pid").alias("_pid"),
            F.col("propername").alias("_pname"),
            F.col("domain").alias("_domain"),
        )
        docs = docs.join(F.broadcast(dim), "source", "left")
    else:
        docs = (
            docs.withColumn("_pid", F.lit(None).cast("string"))
            .withColumn("_pname", F.lit(None).cast("string"))
            .withColumn("_domain", F.lit(None).cast("string"))
        )
    pid = F.coalesce(F.col("_pid"), F.lit("unknown"))
    pname = F.coalesce(F.col("_pname"), F.lit("unknown"))
    domain = F.coalesce(F.col("_domain"), F.lit("unknown"))
    urn = F.concat_ws(":", F.lit("urn"), F.lit(bucket), F.col("source"),
                      F.col("norm_sha256"))
    collection = F.concat(F.lit("https://gleaner.io/id/collection/"),
                          F.col("doc_sha1"))
    activity = F.concat(F.lit("https://gleaner.io/id/run/"),
                        F.col("doc_sha1"))
    org_node = F.struct(
        pid.alias("@id"), F.lit("prov:Organization").alias("@type"),
        pname.alias("rdf:name"), domain.alias("rdfs:seeAlso"),
    )
    entity_node = F.struct(
        F.col("url").alias("@id"), F.lit("prov:Entity").alias("@type"),
        F.struct(pid.alias("@id")).alias("prov:wasAttributedTo"),
        F.col("url").alias("prov:value"),
    )
    coll_node = F.struct(
        collection.alias("@id"), F.lit("prov:Collection").alias("@type"),
        F.struct(F.col("url").alias("@id")).alias("prov:hadMember"),
    )
    urn_node = F.struct(
        urn.alias("@id"), F.lit("prov:Entity").alias("@type"),
        F.concat(F.col("doc_sha1"), F.lit(".jsonld")).alias("prov:value"),
    )
    run_node = F.struct(
        activity.alias("@id"), F.lit("prov:Activity").alias("@type"),
        F.struct(
            F.lit(run_id).alias("@value"),
            F.lit("http://www.w3.org/2001/XMLSchema#dateTime").alias("@type"),
        ).alias("prov:endedAtTime"),
        F.struct(urn.alias("@id")).alias("prov:generated"),
        F.struct(collection.alias("@id")).alias("prov:used"),
    )
    prov = F.concat(
        F.lit('{"@context": ' + PROV_CONTEXT + ', "@graph": ['),
        F.concat_ws(
            ", ",
            F.to_json(org_node), F.to_json(entity_node),
            F.to_json(coll_node), F.to_json(urn_node), F.to_json(run_node),
        ),
        F.lit("]}"),
    )
    out = docs.select(
        "url", "source", "doc_sha1", "norm_sha256",
        pid.alias("pid"), pname.alias("propername"), domain.alias("domain"),
        urn.alias("graph_urn"),
        prov.alias("prov_jsonld"),
        F.sha1(prov).alias("prov_sha"),   # H7: sha1 of rendered prov
        F.lit(run_id).alias("run_id"),
        F.spark_partition_id().alias("partition_id"),
    )
    return out


def partition_lineage(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    """North-rule per-partition lineage: one row per (stage, partition)
    with row counts — written alongside each stage's output so a resumed
    run can prove which partitions completed."""
    return (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(F.count("*").alias("rows"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "partition_id",
            "rows",
        )
    )
