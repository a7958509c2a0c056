"""Spans around the benchmark's calls into the library.

A span records name, module, start, end, its parent span and the run id.
A span opened with ``call=True`` wraps one public library call: it runs the
call under its own Spark job group, and ``collect_stats`` later attaches
that group's stage and SQL metrics to it.  Spans stay in memory and are
written out with the run record when the run ends.  With tracing off,
``span`` is a no-op context manager and no job group is set.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from perfbench.sparkstats import GroupStats, SparkStats


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    module: str
    start: float
    end: float = 0.0
    group: str | None = None
    stats: GroupStats = field(default_factory=GroupStats)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._stats = SparkStats(spark)
        self._stack: list[int] = []
        self._pending: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, module: str = "bench", call: bool = False):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), self._stack[-1] if self._stack else None,
                  name, module, 0.0)
        self.spans.append(sp)
        if call:
            sp.group = f"{self.run_id}.{sp.span_id}"
            self._sc.setJobGroup(sp.group, name)
            self._pending.append(sp)
        self._stack.append(sp.span_id)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if call:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def collect_stats(self) -> None:
        """Attach Spark metrics to every call span closed since the last
        collection.  Run between operations, outside their timings."""
        for sp in self._pending:
            sp.stats = self._stats.group(sp.group)
        self._pending = []

    def roots(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent is None and s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def self_seconds(self, sp: Span) -> float:
        """The span's duration minus the part its children cover (children
        run sequentially inside their parent)."""
        return sp.seconds - sum(c.seconds for c in self.children(sp))

    def to_json(self) -> list[dict]:
        return [{"run_id": self.run_id, "span_id": s.span_id,
                 "parent": s.parent, "name": s.name, "module": s.module,
                 "start": s.start, "end": s.end, "group": s.group,
                 "stats": dict(s.stats)} for s in self.spans]
