"""In-memory spans for the benchmark's traced runs.

A span is (name, start, end, parent, run id). Spans are recorded by the
benchmark around its calls into each engine layer, kept in memory, and
written out once when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover. All
times are time.monotonic(), the clock the benchmark's sink callbacks
and its UDP sender process also use, so their intervals line up.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing
    and costs one branch per call site."""

    def __init__(self, enabled: bool, run_id: str | None = None) -> None:
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.monotonic(), 0.0, parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.monotonic()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a top-level span whose interval was measured elsewhere
        (e.g. a streaming batch timed by the sink callback thread)."""
        if self.enabled:
            self.spans.append(
                Span(len(self.spans), name, start, end, None, self.run_id))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

    def per_span_cost_s(self, n: int = 20_000) -> float:
        """Measured cost of recording one span on this machine."""
        probe = Tracer(True)
        t0 = time.monotonic()
        for _ in range(n):
            with probe.span("x"):
                pass
        return (time.monotonic() - t0) / n


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
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
    """Span id -> duration minus the union of its children's intervals
    clipped to the span (overlapping children are not double counted)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if min(c.end, s.end) > max(c.start, s.start)
        ]
        out[s.id] = (s.end - s.start) - _covered(clipped)
    return out


def totals(spans: list[Span], self_time: bool = False) -> dict[str, float]:
    """Name -> summed duration (or summed self time) over its spans."""
    st = self_times(spans) if self_time else None
    out: dict[str, float] = {}
    for s in spans:
        v = st[s.id] if st is not None else s.end - s.start
        out[s.name] = out.get(s.name, 0.0) + v
    return out
