"""Spans around the benchmark's own calls into the engine.

A span has a name, start, end, parent and batch id. Spans are kept in
memory and written as JSON lines when the run ends. With tracing off the
recorder still times each span (the metrics need the durations) but keeps
nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "batch", "start", "end")

    def __init__(self, id_, name, parent, batch, start):
        self.id, self.name, self.parent, self.batch = id_, name, parent, batch
        self.start, self.end = start, start

    @property
    def dt(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next, name, parent, batch, time.perf_counter())
        self._next += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(s)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.id] = s.dt - covered
        return out

    def write_jsonl(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "batch": s.batch, "start": s.start, "end": s.end,
                    "self_s": selfs[s.id],
                }) + "\n")

    def self_time_table(self) -> dict[str, tuple[int, float, float]]:
        """Per span name: count, total duration, total self time."""
        selfs = self.self_times()
        out: dict[str, tuple[int, float, float]] = {}
        for s in self.spans:
            n, tot, st = out.get(s.name, (0, 0.0, 0.0))
            out[s.name] = (n + 1, tot + s.dt, st + selfs[s.id])
        return out


def record_cost_s(n: int = 20000) -> float:
    """Seconds one recorded span costs, measured on an enabled recorder."""
    rec = Recorder(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with rec.span("x"):
            pass
    return (time.perf_counter() - t0) / n
