"""In-memory spans for the benchmark's traced run.

A span is (id, parent, layer, name, start, end, attrs), times in
seconds since the epoch. Spans are recorded by the benchmark around its
calls into the program's public functions, and synthesized afterwards
from each streaming query's progress reports (one span per
(query, batchId), with one child per ``durationMs`` part). Nothing here
touches the program.

A layer's self time is the sum over its spans of the span's duration
minus the part of that interval covered by its child spans.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans when ``enabled``; otherwise every call is a no-op
    apart from the context manager's own yield."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, parent, layer, name, start, time.time(), attrs))

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        """Record an already-finished span (e.g. from a progress report)."""
        sid = next(self._ids)
        if self.enabled:
            self.spans.append(Span(sid, parent, layer, name, start, end, attrs))
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per layer."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        busy = (s.end - s.start) - _covered(s.start, s.end, children.get(s.id, []))
        out[s.layer] = out.get(s.layer, 0.0) + busy
    return out
