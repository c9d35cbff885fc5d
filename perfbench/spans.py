"""Span recorder for the traced run.

A span is (run id, name, start, end, parent) plus the counts recorded at
its boundary. Spans are kept in memory and written out once, when the
run ends. When given Spark counters, every span tags the Spark jobs it
starts with its own job group and attaches their stage totals.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    run: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, counters=None):
        self.run_id = run_id
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark_jobs: bool = True):
        """Record ``name`` around the block. With ``spark_jobs`` the Spark
        jobs the block starts are counted into the span; spans that nest
        others pass False and leave the counting to their children."""
        parent = self._stack[-1] if self._stack else None
        group = self.counters.new_group() if self.counters and spark_jobs else None
        s = Span(self.run_id, name, time.perf_counter(), parent=parent)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                s.counts.update(self.counters.group_totals(group))

    def children(self, index: int) -> list[Span]:
        return [s for s in self.spans if s.parent == index]

    def self_seconds(self, index: int) -> float:
        """A span's duration minus the part its child spans cover."""
        return self.spans[index].seconds - sum(c.seconds for c in self.children(index))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
