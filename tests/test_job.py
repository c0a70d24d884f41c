"""glcon-parity CLI subcommands (gleaner_spark/job.py).

Reference surface: ``glcon id`` (pkg/cli/identifier.go:61-153),
``glcon rdf`` (pkg/cli/rdf.go:31-104), ``glcon check``
(pkg/cli/check.go:42-61), object tools (pkg/cli/object.go) and
``nabu prune`` (pkg/cli/prune.go:11-21).  The driver-side tools (id,
rdf) run without a Spark session; the warehouse tools run against a
small pipeline output.
"""

from __future__ import annotations

import io
import json
import os

import pytest

from gleaner_spark import job
from gleaner_spark.core.ids import generate_identifier
from gleaner_spark.core.mill import mill_nquads

DOC = json.dumps({
    "@context": "http://schema.org",
    "@type": "Dataset",
    "@id": "https://example.org/ds/1",
    "identifier": {
        "@type": "PropertyValue",
        "propertyID": "https://registry.identifiers.org/registry/doi",
        "value": "doi:10.1234/abcd",
    },
    "name": "t",
})


def _run(argv, capsys, stdin: str | None = None, monkeypatch=None):
    if stdin is not None:
        monkeypatch.setattr("sys.stdin", io.StringIO(stdin))
    rc = job.main(argv)
    return rc, capsys.readouterr().out


def test_id_matches_core_dispatch(tmp_path, capsys):
    f = tmp_path / "doc.jsonld"
    f.write_text(DOC)
    rc, out = _run(["id", "--jsonld", str(f), "--idtype", "identifiersha"],
                   capsys)
    assert rc == 0
    got = json.loads(out)
    want = generate_identifier(DOC, "identifiersha", "")
    assert got["uniqueId"] == want.unique_id
    # CLI reports the same cascade rule the core dispatch matched
    assert got["matchedPath"] == want.matched_path
    assert got["matchedString"] == want.matched_string


def test_id_reads_stdin(capsys, monkeypatch):
    rc, out = _run(["id", "--idtype", "filesha"], capsys,
                   stdin=DOC, monkeypatch=monkeypatch)
    assert rc == 0
    want = generate_identifier(DOC, "filesha", "")
    assert json.loads(out)["uniqueId"] == want.unique_id


def test_rdf_emits_mill_nquads(tmp_path, capsys):
    f = tmp_path / "doc.jsonld"
    f.write_text(DOC)
    rc, out = _run(["rdf", "--jsonld", str(f)], capsys)
    assert rc == 0
    lines = sorted(out.strip().splitlines())
    assert any("<https://schema.org/name>" in ln and '"t"' in ln
               for ln in lines)
    # https context fix applied before milling (http://schema.org in,
    # https://schema.org/ terms out) — same contract as the pipeline
    assert all("<http://schema.org" not in ln for ln in lines)
    # byte-parity with the in-pipeline mill on the same fixed doc
    from gleaner_spark.core.contextfix import fix_all
    fixed = fix_all(DOC, "https")
    ident = generate_identifier(fixed, "jsonsha", "")
    assert sorted(mill_nquads(fixed, ident.unique_id)
                  .strip().splitlines()) == lines


def test_rdf_rejects_invalid_json(capsys, monkeypatch):
    monkeypatch.setattr("sys.stdin", io.StringIO("{not json"))
    rc = job.main(["rdf"])
    capsys.readouterr()
    assert rc == 1


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    from gleaner_spark.plans.pipeline import PipelineConfig, run_pipeline
    from gleaner_spark.sources.pages import gen_pages_spark, gen_sources_spark

    out = str(tmp_path_factory.mktemp("job_wh"))
    pages_dir = os.path.join(out, "pages_in")
    gen_pages_spark(spark, 60, 4).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    src = gen_sources_spark(spark)
    cfg = PipelineConfig(output_dir=out, run_id="job-t",
                         link_entities=False)
    run_pipeline(spark, pages, src, cfg)
    return out, pages_dir


def test_check_passes_on_valid_warehouse(spark, warehouse, capsys):
    out, pages_dir = warehouse
    rc = job.main(["check", "--pages", pages_dir, "--out", out,
                   "--cores", "4"])
    assert rc == 0
    assert "Check successful" in capsys.readouterr().out


def test_check_fails_on_bad_schema(spark, warehouse, tmp_path, capsys):
    out, _ = warehouse
    bad = str(tmp_path / "bad_pages")
    spark.range(3).selectExpr("cast(id as string) as url").write.parquet(bad)
    rc = job.main(["check", "--pages", bad, "--out", out, "--cores", "4"])
    capsys.readouterr()
    assert rc == 66  # the reference's exit contract (check.go:50)


def test_show_finds_doc_by_sha_prefix(spark, warehouse, capsys):
    out, _ = warehouse
    row = spark.read.parquet(os.path.join(out, "docs")).select(
        "doc_sha1", "url").first()
    rc = job.main(["show", "--out", out, "--sha", row.doc_sha1[:12],
                   "--cores", "4"])
    got = capsys.readouterr().out
    assert rc == 0
    assert row.doc_sha1 in got and row.url in got
    rc_miss = job.main(["show", "--out", out, "--sha", "f" * 40,
                        "--cores", "4"])
    capsys.readouterr()
    assert rc_miss == 1


def test_show_recovers_interrupted_prune_swap(spark, warehouse, capsys,
                                             tmp_path):
    """A prune that crashed between its two renames leaves only
    ``triples.pruned-old``: the next command that opens the warehouse —
    here ``show`` — restores ``triples`` first."""
    import shutil

    src, _ = warehouse
    out = str(tmp_path / "crashed_wh")
    shutil.copytree(src, out)
    os.replace(os.path.join(out, "triples"),
               os.path.join(out, "triples.pruned-old"))
    sha = spark.read.parquet(os.path.join(out, "docs")).first().doc_sha1
    rc = job.main(["show", "--out", out, "--sha", sha, "--cores", "4"])
    captured = capsys.readouterr()
    assert rc == 0
    assert "recovered triples table" in captured.err
    assert os.path.isdir(os.path.join(out, "triples"))
    assert not os.path.exists(os.path.join(out, "triples.pruned-old"))


def test_prune_noop_on_consistent_warehouse(spark, warehouse, capsys):
    """Freshly-built warehouse: every graph is doc-backed or structural
    — prune must drop nothing (dry-run leaves the table untouched)."""
    out, _ = warehouse
    rc = job.main(["prune", "--out", out, "--dry-run", "--cores", "4"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["pruned"] == 0 and rep["dry_run"] is True


def test_prune_drops_unbacked_graphs(spark, warehouse, capsys, tmp_path):
    """Remove some docs, prune → exactly those docs' graphs disappear;
    org graphs survive (never doc-backed, structural by design).

    Mutates a COPY of the module-scoped warehouse: deleting docs and
    swapping the triples table in place made every other prune test
    order-dependent (ADVICE r5)."""
    import shutil as _sh

    from pyspark.sql import functions as F

    src, _ = warehouse
    out = str(tmp_path / "warehouse_copy")
    _sh.copytree(src, out)
    docs_path = os.path.join(out, "docs")
    docs = spark.read.parquet(docs_path)
    victims = {r.norm_sha256 for r in
               docs.select("norm_sha256").distinct().limit(3).collect()}
    kept_docs = docs.filter(~F.col("norm_sha256").isin(list(victims)))
    tmp = docs_path + ".new"
    kept_docs.write.mode("overwrite").parquet(tmp)
    import shutil
    shutil.rmtree(docs_path)
    os.replace(tmp, docs_path)

    before = spark.read.parquet(os.path.join(out, "triples"))
    before_count = before.count()
    victim_graphs = {
        r.graph for r in before.select("graph").distinct().collect()
        if any(v in r.graph for v in victims)
    }
    assert victim_graphs, "victim docs must have had triples"

    rc = job.main(["prune", "--out", out, "--cores", "4"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    after = spark.read.parquet(os.path.join(out, "triples"))
    got_graphs = {r.graph for r in after.select("graph").distinct().collect()}
    assert not (victim_graphs & got_graphs)
    assert rep["pruned"] == before_count - after.count() > 0
    # structural org graphs survive
    assert any(g.endswith(":org") for g in got_graphs)
