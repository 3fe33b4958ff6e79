"""In-memory span recorder and the statistics the benchmark reports.

A span is one call the benchmark makes into a layer of the engine: its
name, start and end (``time.perf_counter`` seconds), the span that was
open when it started (its parent) and the operation it belongs to (a
timestep or a query name). Spans are kept in a list and written out once,
when the run ends. With tracing off, ``span`` records nothing and costs
one generator frame per call.
"""

from __future__ import annotations

import json
import statistics
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | int | None = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._open[-1] if self._open else None
        rec = Span(sid, name, time.perf_counter(), float("nan"), parent, op)
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield
        finally:
            rec.end = time.perf_counter()
            self._open.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": [asdict(s) for s in self.spans]}, f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = s.duration - covered
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def growth(values: list[float]) -> float:
    """Mean of the last quarter of ``values`` over the mean of the first
    quarter (1.0 = flat); 0 when there are fewer than four values."""
    q = len(values) // 4
    if q == 0:
        return 0.0
    return statistics.fmean(values[-q:]) / statistics.fmean(values[:q])
