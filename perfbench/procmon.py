"""Process-tree CPU accounting plus host labels, read from /proc.

Everything here is Spark-free: the benchmark measures the whole tree it
started (this Python process, the JVM, the PySpark daemon and its Python
workers), because in local mode the work of one pipeline call is spread
over all of them.
"""

from __future__ import annotations

import hashlib
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")

#: iterations of the fixed single-thread hash loop used as a CPU-speed label
PROBE_ITERATIONS = 100_000


def parse_stat(text: str) -> tuple[int, list[str]]:
    """``/proc/<pid>/stat`` → (ppid, fields after the command name).

    The command name sits in parentheses and may itself contain spaces
    and parentheses, so the split point is the last ``)``."""
    rest = text[text.rindex(")") + 2:].split()
    return int(rest[1]), rest


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        text = _read(f"/proc/{name}/stat")
        if text is None:
            continue
        ppid, _ = parse_stat(text)
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds_of(stat_fields: list[str]) -> float:
    """utime + stime + cutime + cstime: a process's own CPU plus that of
    the children it has reaped, so work of exited workers is kept."""
    # fields after the command: state(0) ppid(1) ... utime(11) stime(12)
    # cutime(13) cstime(14)
    return sum(int(stat_fields[i]) for i in (11, 12, 13, 14)) / CLK_TCK


def tree_cpu_s(root: int | None = None) -> float:
    total = 0.0
    for pid in tree_pids(root):
        text = _read(f"/proc/{pid}/stat")
        if text is not None:
            total += cpu_seconds_of(parse_stat(text)[1])
    return total


def host_cpu_counters() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies of the host from the ``cpu`` line of
    /proc/stat; busy excludes idle and iowait."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    total = sum(v[:8])
    return total, total - v[3] - v[4], v[7]


def host_labels(before: tuple[int, int, int],
                after: tuple[int, int, int]) -> dict[str, float]:
    """Host busy and steal shares (%) between two ``host_cpu_counters``."""
    dt = max(after[0] - before[0], 1)
    return {
        "host_busy_pct": 100.0 * (after[1] - before[1]) / dt,
        "host_steal_pct": 100.0 * (after[2] - before[2]) / dt,
    }


def hash_probe_s(iterations: int = PROBE_ITERATIONS) -> float:
    """CPU seconds of a fixed single-thread md5 chain: a label for how
    fast this host's CPU ran around a timed unit."""
    t0 = time.process_time()
    h = b"perfbench"
    for _ in range(iterations):
        h = hashlib.md5(h).digest()
    return time.process_time() - t0
