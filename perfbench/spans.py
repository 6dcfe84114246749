"""Spans around the benchmark's calls into the index, tied to Spark jobs.

A span records name, start, end, parent and trace id. In a traced run each
span also sets the Spark job group to its own id for the length of the
call, so every job the call launches carries that id in Spark's event log
(``spark.jobGroup.id`` among the job's properties); ``eventlog.py`` joins
the two after the session stops. Spans are kept in memory and written out
when the run ends.

With tracing off, ``span`` only times the block: no job group is set and
nothing is kept beyond the wall.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    trace_id: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None):
        """``sc``: the SparkContext whose job group each span sets, or
        None for an untraced run."""
        self._sc = sc
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.spans: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self._sc is not None

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=f"pb-{next(self._ids)}",
            name=name,
            trace_id=trace_id or (parent.trace_id if parent else name),
            parent=parent.span_id if parent else None,
            start=time.time(),
            attrs=dict(attrs),
        )
        self._stack.append(sp)
        if self.enabled:
            self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.enabled:
                self._set_group(parent)
                self.spans.append(sp)
