"""In-memory span recorder and self-time arithmetic.

A span is (name, start, end, parent, run id), recorded by the benchmark
around each public layer call it makes. Spans stay in memory; the run
writes them out once, when it ends. Times are ``time.time()`` seconds so that
they share a clock with the Spark event log (epoch milliseconds).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans on one thread. ``enabled=False`` makes ``span`` a bare
    pass-through, so untraced and traced passes run the same code."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.time(), float("nan"), parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.time()


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → its duration minus the part of its interval covered by
    its direct children (clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = [
            (max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.id] = s.dur - union_len(covered)
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Sum of self times per layer, the layer being the span name up to
    its first '.' (``gibbs.sweep`` → ``gibbs``)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[s.id]
    return out
