"""Spans recorded by the benchmark around its own calls into each layer.

A span has a name, a start, an end and the span that was open when it
began. Spans stay in memory and are written out when the benchmark ends.
A span's self time is its duration minus the part of its interval that its
child spans cover.
"""

from __future__ import annotations

import collections
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float


class Tracer:
    """Records nested spans; when disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span = Span(len(self.spans), self._open[-1] if self._open else None,
                    name, time.perf_counter(), float("nan"))
        self.spans.append(span)
        self._open.append(span.id)
        try:
            yield
        finally:
            self._open.pop()
            span.end = time.perf_counter()

    def write(self, path: str) -> None:
        own = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=own[s.id]) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, reach), min(end, hi)
        if end > start:
            total += end - start
            reach = end
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = collections.defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children[s.id], s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Self time summed over all spans of each name."""
    own = self_times(spans)
    totals: dict[str, float] = collections.defaultdict(float)
    for s in spans:
        totals[s.name] += own[s.id]
    return dict(totals)
