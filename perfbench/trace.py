"""Spans for the traced run: wall time per named region, tagged with a
Spark job group so the event log attributes jobs, stages and tasks to
the region that ran them.

Spans nest.  A span's engine counters cover its own job group and
those of every span opened inside it; its self time is its wall time
minus the wall time of its direct children.  Spans are kept in memory
and read out once the run has ended.
"""

from __future__ import annotations

import contextlib
import time

from . import eventlog


class Span:
    def __init__(self, name: str, group: str, parent: "Span | None"):
        self.name = name
        self.group = group
        self.parent = parent
        self.children: list[Span] = []
        self.wall_s = 0.0

    @property
    def self_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)

    def groups(self) -> list[str]:
        out = [self.group]
        for c in self.children:
            out.extend(c.groups())
        return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, "perfbench-%d" % len(self.spans), parent)
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def engine(self, groups: dict, spans) -> eventlog.GroupStats:
        """Event-log counters summed over ``spans`` and their children."""
        ids = [g for s in spans for g in s.groups()]
        return eventlog.total(groups, ids)


@contextlib.contextmanager
def wrapped_catalog_writes(tracer: Tracer, prefix: str):
    """Open a span ``<prefix>.<table>`` around every
    ``IcebergishCatalog.write`` made inside the block."""
    from mc2skos_spark.sinks.icebergish import IcebergishCatalog

    original = IcebergishCatalog.write

    def write(self, table, df, *args, **kwargs):
        with tracer.span("%s.%s" % (prefix, table)):
            return original(self, table, df, *args, **kwargs)

    IcebergishCatalog.write = write
    try:
        yield
    finally:
        IcebergishCatalog.write = original
