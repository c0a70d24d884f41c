"""Spark-free self-tests of the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import itertools
import json
import os
import re

import pytest

import checks
import corpus
import eventlog
import run
from spans import Span, Tracer, covered_seconds, descendants, self_seconds

HERE = os.path.dirname(os.path.abspath(__file__))


# -- spans -------------------------------------------------------------------


def test_covered_seconds_merges_overlaps_and_clips():
    assert covered_seconds([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered_seconds([(1, 3), (2, 5), (7, 8)], 2.5, 7.5) == 3.0
    assert covered_seconds([], 0, 10) == 0
    assert covered_seconds([(4, 4)], 0, 10) == 0


def test_self_seconds_subtracts_direct_children_only():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "a.x", 1, 1.5, 3.5),     # grandchild: not root's business
        Span(3, "b", 0, 3.0, 6.0),       # overlaps a
    ]
    got = self_seconds(spans)
    assert got[0] == pytest.approx(10 - 5)   # children cover [1, 6]
    assert got[1] == pytest.approx(3 - 2)
    assert got[2] == pytest.approx(2)
    assert got[3] == pytest.approx(3)
    assert descendants(spans, 0) == {0, 1, 2, 3}
    assert descendants(spans, 1) == {1, 2}


def test_tracer_nests_and_restores_job_groups():
    groups = []
    cpu = itertools.count()
    t = Tracer(groups.append, lambda: float(next(cpu)))
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert groups == ["outer", "inner", "outer", None]
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert inner.core_s == 1.0 and outer.core_s == 3.0
    assert [s["name"] for s in t.to_json()] == ["outer", "inner"]


def test_tracer_closes_span_on_error():
    groups = []
    t = Tracer(groups.append, lambda: 0.0)
    with pytest.raises(ValueError):
        with t.span("boom"):
            raise ValueError
    assert groups == ["boom", None] and t.spans[0].end >= t.spans[0].start


# -- event log ---------------------------------------------------------------


def _task(stage, run_ms, acc=(), **m):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": n, "Update": str(v)}
                                       for n, v in acc]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": m.get("gc", 0),
            "Disk Bytes Spilled": m.get("spill", 0),
            "Shuffle Write Metrics": {"Shuffle Bytes Written":
                                      m.get("shuffle", 0)},
            "Output Metrics": {"Records Written": m.get("rows", 0)},
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App ID": "app-1"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "stages.extract"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
     "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "link"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
     "Stage IDs": [3], "Properties": {}},
    # two Python operators in one task: their accumulables add up
    _task(0, 100, [("time to run Python workers", 40),
                   ("time to run Python workers", 10),
                   ("data sent to Python workers", 2_000_000),
                   ("time to initialize Python workers", 700)],
          gc=5, rows=10),
    _task(0, 300, [("time to run Python workers", 30)], gc=5, rows=20),
    _task(1, 50, shuffle=1_000_000, spill=3_000_000),
    _task(1, 50),
    _task(1, 50),
    _task(2, 80, rows=7),
    _task(3, 10),
]


def test_eventlog_attributes_tasks_to_job_groups():
    log = eventlog.parse_lines(json.dumps(e) for e in EVENTS)
    ext = eventlog.summarize(log, {"stages.extract"})
    assert ext["jobs"] == 1
    assert ext["rows"] == 30
    assert ext["python_s"] == pytest.approx(0.08)
    assert ext["to_python_mb"] == pytest.approx(2.0)
    assert ext["python_boot_s"] == pytest.approx(0.7)
    assert ext["shuffle_mb"] == pytest.approx(1.0)
    assert ext["spill_mb"] == pytest.approx(3.0)
    assert ext["gc_s"] == pytest.approx(0.01)
    # heaviest stage is 0 (400 ms): max 300 / median 200
    assert ext["skew"] == pytest.approx(1.5)
    both = eventlog.summarize(log, {"stages.extract", "link"})
    assert both["jobs"] == 2 and both["rows"] == 37
    assert eventlog.summarize(log, {"absent"})["skew"] == 1.0
    assert eventlog.jobs_between(log, 0.5, 5.0) == 2
    assert eventlog.jobs_between(log, 0.5, 10.0) == 3


def test_eventlog_reads_several_applications(tmp_path):
    paths = []
    for k in range(2):
        p = tmp_path / f"app-{k}"
        p.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
        paths.append(str(p))
    log = eventlog.read_logs(paths)
    assert eventlog.summarize(log, {"link"})["jobs"] == 2


# -- output checks and failure counting --------------------------------------


def test_digest_ignores_order_and_sees_every_field():
    rows = [("g", "s", "p", "o", "src"), ("g", "s2", "p", "o", "src")]
    assert checks.digest_rows(rows) == checks.digest_rows(rows[::-1])
    changed = [rows[0], ("g", "s2", "p", "o2", "src")]
    assert checks.digest_rows(rows)[1] != checks.digest_rows(changed)[1]
    assert checks.digest_rows([])[0] == 0


def test_pairwise_quality():
    # gold {a1, a2, a3} {b1}; predicted merges a1, a2, b1 and splits a3
    labels = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "x")]
    precision, recall = checks.pairwise_quality(labels)
    assert precision == pytest.approx(1 / 3)
    assert recall == pytest.approx(1 / 3)
    assert checks.pairwise_quality([("a", "x")]) == (1.0, 1.0)


def _write(path, columns: dict):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(pa.table(columns), os.path.join(path, "part-0.parquet"))


def test_link_quality_scores_every_mention(tmp_path):
    org = (checks.RDF_TYPE, checks.ORG_TYPE)
    raw = []
    for ent, name in [("_:1", "Alpha Org"), ("_:2", "The Alpha Org"),
                      ("_:3", "Beta Org"), ("<h/org/b>", "Beta Org"),
                      ("<h/org/c>", "Gamma Org"), ("_:4", "Gamma Org")]:
        raw += [(ent, *org), (ent, checks.SCHEMA_NAME, f'"{name}"')]
    raw = sorted(set(raw))
    _write(str(tmp_path / "raw_triples"), {
        "subject": [r[0] for r in raw], "predicate": [r[1] for r in raw],
        "object": [r[2] for r in raw]})
    # Alpha and Beta linked right; Gamma's two mentions wrongly merged
    # into Beta
    links = [("_:2", "_:1"), ("_:3", "<h/org/b>"), ("_:4", "<h/org/b>"),
             ("<h/org/c>", "<h/org/b>")]
    _write(str(tmp_path / "triples"), {
        "graph": [checks.SAMEAS_GRAPH] * 4,
        "subject": [s for s, _ in links], "object": [o for _, o in links]})
    gold = {"Alpha Org": "a", "The Alpha Org": "a", "Beta Org": "b",
            "Gamma Org": "c"}
    q = checks.link_quality(str(tmp_path), gold)
    # predicted pairs: 1 (alpha) + 6 (four mentions merged) = 7; true 3
    assert q["precision"] == pytest.approx(3 / 7)
    assert q["recall"] == 1.0
    assert q["mentions"] == 6 and q["clusters"] == 3
    assert q["sameas_rows"] == 4 and q["names"] == 4


def test_timed_unit_counts_raised_and_failed_checks():
    def boom():
        raise RuntimeError("stage failed")

    ok, res = run.timed_unit("ok", lambda: 7, lambda r: ({"r": r}, []))
    bad, _ = run.timed_unit("bad", lambda: 7,
                            lambda r: ({}, ["digest differs"]))
    raised, _ = run.timed_unit("raised", boom, lambda r: ({}, []))
    assert res == 7 and ok["r"] == 7 and ok["errors"] == []
    assert bad["errors"] == ["digest differs"]
    assert "stage failed" in raised["errors"][0]
    assert run.count_failed([ok, bad, raised]) == 2
    for rec in (ok, bad, raised):
        assert rec["wall_s"] >= 0 and rec["probe_before_s"] > 0
        assert 0 <= rec["host_busy_pct"] <= 100


def test_base_warehouse_pages_are_above_every_seeded_input():
    # row_offset < 100 * 10_000; a run's inputs are at most a few
    # hundred pages past it
    assert 100 * 10_000 + 10_000 <= corpus.BASE_OFFSET
    assert max(corpus.row_offset(s) for s in range(2000)) < 100 * 10_000


def test_same_digest():
    assert run.same_digest([{"digest": "a"}, {"digest": "a"}, {}]) == []
    assert run.same_digest([{"digest": "a"}, {"digest": "b"}])


# -- inputs ------------------------------------------------------------------


def _grams(name: str) -> set[str]:
    n = checks.normalize_name(name)
    return {n[x:x + 3] for x in range(max(len(n) - 2, 1))}


def test_org_universe_aliases_link_and_orgs_stay_apart():
    universe = corpus.org_universe(7, 120)
    assert len(universe) == 120
    grams = [(j, _grams(a)) for j, aliases in enumerate(universe)
             for a in aliases]
    for (j1, g1), (j2, g2) in itertools.combinations(grams, 2):
        jac = len(g1 & g2) / len(g1 | g2)
        if j1 == j2:
            assert jac >= 0.75
        else:
            assert jac < 0.5
    assert not any(re.search(r"\d", a) for al in universe for a in al)


def test_corpus_is_seeded_and_keeps_row_mix():
    a, b = corpus.build(3, 100), corpus.build(3, 100)
    assert [r["html"] for r in a.rows] == [r["html"] for r in b.rows]
    assert a.offset % 100 == 0
    assert corpus.build(4, 100).offset != a.offset
    shape = a.shape()
    assert shape["pages"] == 100
    assert shape["row_classes"] == {"one": 60, "multi": 10, "none": 10,
                                    "invalid": 5, "rawjson": 5, "dup": 10}
    # the gold clusters stay in the input next to the universe
    labels = a.gold_label()
    html = b"".join(r["html"] for r in a.rows).decode()
    used = {labels[n] for n in labels if f'"{n}"' in html}
    assert any(u.startswith("g") for u in used)
    assert sum(u.startswith("u") for u in used) >= 20


def test_splice_rewrites_whole_json_strings_only():
    universe = corpus.org_universe(1, 20)
    for i in range(200):
        page = corpus.spliced_page(1, i, universe)
        html = page["html"].decode()
        # "Ocean Data Consortium" is a prefix of "... Inc": never split
        assert '" Inc"' not in html and "> Inc<" not in html


def test_footer_itemid_names_one_organisation():
    c = corpus.build(5, 200)
    labels = c.gold_label()
    names_of: dict[str, set] = {}
    for page in c.rows:
        m = re.search(r'itemid="([^"]+)"><span itemprop="name">([^<]+)<',
                      page["html"].decode())
        if m:
            iri, name = m.groups()
            assert iri.endswith("/org/" + labels[name])
            names_of.setdefault(iri, set()).add(labels[name])
    assert len(names_of) >= 10
    assert all(len(v) == 1 for v in names_of.values())


# -- the benchmark definition --------------------------------------------------


def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layer == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert len(layer) <= 128
