"""Span recorder for the traced run.

A span is one call into a layer's public function: name, start, end,
parent, plus the process-tree CPU at both ends.  Spans are kept in
memory and written out once at the end.  Entering a span also labels
every Spark job started inside it with the span's name as its job group,
so the event log can be joined back to the span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Callable, Iterator


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float          # epoch seconds, comparable with event-log times
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def core_s(self) -> float:
        return self.cpu_end - self.cpu_start


class Tracer:
    """``set_group`` receives the innermost open span's name (or None
    when the outermost closes); ``cpu`` returns process-tree CPU seconds."""

    def __init__(self, set_group: Callable[[str | None], None],
                 cpu: Callable[[], float]) -> None:
        self._set_group = set_group
        self._cpu = cpu
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1].id if self._open else None
        s = Span(id=len(self.spans), name=name, parent=parent,
                 start=time.time(), cpu_start=self._cpu())
        self.spans.append(s)
        self._open.append(s)
        self._set_group(name)
        try:
            yield s
        finally:
            s.end = time.time()
            s.cpu_end = self._cpu()
            self._open.pop()
            self._set_group(self._open[-1].name if self._open else None)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def covered_seconds(intervals: list[tuple[float, float]],
                    lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.seconds - covered_seconds(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def descendants(spans: list[Span], span_id: int) -> set[int]:
    """``span_id`` and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [span_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, ()))
    return out
