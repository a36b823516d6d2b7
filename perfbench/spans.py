"""Spans recorded by the benchmark around its calls into each layer.

A span has a name, a layer, start and end (perf_counter seconds) and
the span that was open when it began. Spans live in memory until the
run ends. Self time is a span's duration minus the part of it covered
by its children.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    parent: int | None
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        if self.end is None:
            raise ValueError(f"span {self.name!r} is still open")
        return self.end - self.start


class Tracer:
    """Records nested spans. A disabled tracer yields no span and
    records nothing, so untraced runs pay only a context-manager call."""

    def __init__(self, enabled: bool = True, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, layer, self.clock(), parent, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children(span.sid))

    def self_by_layer(self, root: Span | None = None) -> dict[str, float]:
        """Self time summed per layer over ``root``'s subtree (all spans
        when root is None)."""
        keep = self._subtree(root) if root is not None else self.spans
        out: dict[str, float] = {}
        for s in keep:
            out[s.layer] = out.get(s.layer, 0.0) + self.self_time(s)
        return out

    def total_by_name(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def _subtree(self, root: Span) -> list[Span]:
        ids = {root.sid}
        out = [root]
        for s in self.spans[root.sid + 1 :]:  # children start after parents
            if s.parent in ids:
                ids.add(s.sid)
                out.append(s)
        return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the time its children cover (overlapping
    children counted once)."""
    return span.duration - covered(
        [(c.start, c.end) for c in children if c.end is not None], span.start, span.end
    )
