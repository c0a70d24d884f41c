"""Reader for Spark's JSON event log (uncompressed, not rolled).

Jobs carry the ``spark.jobGroup.id`` the span recorder set, so every
task can be attributed to the span that started its job.  Task metrics
give shuffle, spill, GC and output rows; the Python-UDF operators add
per-task accumulables ("time to run Python workers", "data sent to
Python workers", ...), summed here over every operator in the task.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"

#: accumulable name → Task field; values are ms or bytes as Spark logs them
PYTHON_ACCUMULABLES = {
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
}


@dataclass
class Job:
    group: str | None
    submit_ms: int


@dataclass
class Task:
    app: str
    stage: int
    group: str | None
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    disk_spill_bytes: int = 0
    records_written: int = 0
    py_run_ms: int = 0
    py_sent_bytes: int = 0
    py_start_ms: int = 0
    py_init_ms: int = 0


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


def parse_lines(lines, log: EventLog | None = None) -> EventLog:
    """Add the jobs and finished tasks of one application's log."""
    log = log if log is not None else EventLog()
    app = ""
    stage_group: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app = e.get("App ID") or e.get("App Name", "")
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get(GROUP_KEY)
            log.jobs.append(Job(group, e["Submission Time"]))
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sid = e["Stage ID"]
            t = Task(
                app=app, stage=sid, group=stage_group.get(sid),
                run_ms=m.get("Executor Run Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                disk_spill_bytes=m.get("Disk Bytes Spilled", 0),
                records_written=(m.get("Output Metrics") or {})
                .get("Records Written", 0),
            )
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                attr = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                if attr is not None:
                    setattr(t, attr, getattr(t, attr) + int(acc.get("Update", 0)))
            log.tasks.append(t)
    return log


def read_logs(paths: list[str]) -> EventLog:
    log = EventLog()
    for p in paths:
        with open(p) as f:
            parse_lines(f, log)
    return log


def skew(tasks: list[Task]) -> float:
    """max / median task run time of the heaviest stage (by summed run
    time) among ``tasks``; 1.0 when there is nothing to compare."""
    by_stage: dict[tuple[str, int], list[int]] = {}
    for t in tasks:
        by_stage.setdefault((t.app, t.stage), []).append(t.run_ms)
    if not by_stage:
        return 1.0
    heaviest = max(by_stage.values(), key=sum)
    return max(heaviest) / max(statistics.median(heaviest), 1.0)


def summarize(log: EventLog, groups: set[str]) -> dict[str, float]:
    """Jobs, output rows, shuffle, spill, GC and Python-worker totals of
    the jobs whose group is in ``groups``."""
    tasks = [t for t in log.tasks if t.group in groups]
    return {
        "jobs": sum(1 for j in log.jobs if j.group in groups),
        "rows": sum(t.records_written for t in tasks),
        "shuffle_mb": sum(t.shuffle_write_bytes for t in tasks) / 1e6,
        "spill_mb": sum(t.disk_spill_bytes for t in tasks) / 1e6,
        "skew": skew(tasks),
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "python_s": sum(t.py_run_ms for t in tasks) / 1e3,
        "to_python_mb": sum(t.py_sent_bytes for t in tasks) / 1e6,
        "python_boot_s": max(
            (t.py_start_ms + t.py_init_ms for t in tasks), default=0
        ) / 1e3,
    }


def jobs_between(log: EventLog, start_s: float, end_s: float) -> int:
    """Jobs submitted inside a wall-clock window (epoch seconds) — counts
    jobs of every thread, including ones that carry no group."""
    lo, hi = start_s * 1e3, end_s * 1e3
    return sum(1 for j in log.jobs if lo <= j.submit_ms <= hi)
