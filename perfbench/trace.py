"""In-memory spans around the calls the benchmark makes into each layer.

A span records name, start, end, parent and run id. While a span is
open on a thread, the Spark job group of that thread is the span's id, so
the event-log parser can attribute every Spark job to the span that
caused it. Spans nest per thread; a span opened on a worker thread names
its parent explicitly.

``Tracer(enabled=False)`` records nothing and never touches Spark, so the
untraced run measures the program alone.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from etl_tools_rs_spark.sinks.simple_store import SimpleStore


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)
    wall_start: float = 0.0  # epoch seconds, to match Spark's own timestamps
    wall_end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool, spark_context: Any = None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    def current(self) -> Span | None:
        """The innermost open span on this thread."""
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs: Any):
        """Open a span; yields it (``None`` when tracing is off)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = f"{self.run_id}.{next(self._ids)}"
        s = Span(sid, name, parent.id if parent else None, time.perf_counter(), attrs=attrs,
                 wall_start=time.time())
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)

    # -- queries over recorded spans ----------------------------------------
    def children(self) -> dict[str | None, list[Span]]:
        out: dict[str | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def subtree(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids.get(s.id, [])
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by the span's children."""
        intervals = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.children().get(span.id, [])
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in intervals:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span.duration - covered

    def innermost_at(self, epoch_s: float) -> Span | None:
        """The most recently opened span that was open at ``epoch_s``."""
        covering = [s for s in self.spans if s.wall_start <= epoch_s <= s.wall_end]
        return max(covering, key=lambda s: s.wall_start, default=None)

    def to_json(self) -> list[dict[str, Any]]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "run_id": self.run_id,
                "start": s.start,
                "end": s.end,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


# -- layer wrappers: the program's public objects, seen from outside --------


class SpanSink:
    """Sink wrapper that records a span around each ``write``."""

    def __init__(self, tracer: Tracer, inner: Any, span_name: str):
        self.tracer = tracer
        self.inner = inner
        self.span_name = span_name
        self.path = getattr(inner, "path", type(inner).__name__)

    def write(self, df: Any) -> Any:
        with self.tracer.span(self.span_name):
            return self.inner.write(df)


class SpanStore(SimpleStore):
    """Job-state store that records a span around each document save."""

    def __init__(self, tracer: Tracer, home: str):
        super().__init__(home)
        self.tracer = tracer

    def write(self, key: str, doc: Any) -> None:
        with self.tracer.span("jobs.state_save"):
            super().write(key, doc)


def wrap_sink(tracer: Tracer, sink: Any, span_name: str) -> Any:
    return SpanSink(tracer, sink, span_name) if tracer.enabled else sink


def make_store(tracer: Tracer, home: str) -> SimpleStore:
    return SpanStore(tracer, home) if tracer.enabled else SimpleStore(home)
