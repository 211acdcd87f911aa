"""In-memory spans for the traced run.

A span is a name, a start, an end and the index of its parent. The recorder
keeps them in a list and writes them out once, when the run ends; the
benchmark records spans only around its own calls into the engine's layers.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict | None = None


class SpanRecorder:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a finished span; returns its index (for children)."""
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(Span(name, start, end, parent, attrs or None))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed block as a span nested under the open one."""
        if not self.enabled:
            yield -1
            return
        idx = self.add(name, time.perf_counter(), float("nan"), **attrs)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def as_dicts(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (children clipped to the parent; overlaps counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.parent >= 0:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return [
        (s.end - s.start) - _covered(kids.get(i, [])) for i, s in enumerate(spans)
    ]


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name, in seconds."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out
