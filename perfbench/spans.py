"""In-memory spans around the benchmark's calls into each layer.

A span records its name, layer, start, end, parent and run id, plus the
status-store counters that moved while it was open (when a collector is
attached). Spans nest through a stack; ``self_seconds`` is a span's
duration minus the part of it that its children cover. With no collector
the tracer still times spans but reads nothing from Spark, which is how
the untraced passes run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from collector import Counters, StatusCollector


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counters: Counters | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_seconds(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the union of its children's intervals,
    each clipped to the span."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.seconds - covered(clipped)


class Tracer:
    def __init__(self, run_id: str, collector: StatusCollector | None = None):
        self.run_id = run_id
        self.collector = collector
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1].id if self._stack else None
        before = self.collector.read() if self.collector else None
        s = Span(len(self.spans), name, layer, time.perf_counter(),
                 parent=parent, run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.collector:
                s.counters = self.collector.read() - before

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.id]

    def layer_spans(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["self_seconds"] = self_seconds(s, self.children(s))
            rows.append(row)
        with open(path, "w") as fh:
            json.dump(rows, fh)
