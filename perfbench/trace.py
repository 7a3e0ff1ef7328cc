"""In-memory span recorder for the traced benchmark run.

Spans are recorded from outside the package: the benchmark wraps each
call into a layer's public function (and the ``TableSink`` it hands to
the checkpoint runner) and forces materialisation at the boundary, so a
span's duration is the time that layer kept the driver busy.  Spans stay
in memory and are written as JSONL once, after the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, Iterator, List, Optional

from markdown_articles_tool_spark.io_sinks import TableSink


@dataclass
class Span:
    id: int
    parent: Optional[int]
    name: str
    start: float
    end: float = 0.0
    thread: str = ''


class Tracer:
    """Records (name, start, end, parent) spans.

    The parent of a span is the innermost open span of the same thread;
    a span opened in a thread with no open span (a checkpoint shard
    worker) gets the innermost open span of the thread that opened the
    first span as its parent.
    """

    def __init__(self) -> None:
        self.spans: List[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: Optional[List[int]] = None

    def _stack(self) -> List[int]:
        stack = getattr(self._local, 'stack', None)
        if stack is None:
            stack = self._local.stack = []
            if self._main_stack is None:
                self._main_stack = stack
        return stack

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), parent, name, time.perf_counter(),
                      thread=threading.current_thread().name)
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def self_times(self) -> Dict[str, float]:
        """Seconds charged to each span name.  Every instant is charged to
        the innermost spans open at that instant, split evenly when
        several run at once (checkpoint shard threads).  For spans that
        do not overlap this is the usual self time: duration minus the
        time covered by child spans.  The charges sum to the wall time
        covered by the spans."""
        spans = [sp for sp in self.spans if sp.end > sp.start]
        points = sorted({t for sp in spans for t in (sp.start, sp.end)})
        out: Dict[str, float] = {sp.name: 0.0 for sp in spans}
        for a, b in zip(points, points[1:]):
            open_ = [sp for sp in spans if sp.start <= a and sp.end >= b]
            has_child = {sp.parent for sp in open_}
            leaves = [sp for sp in open_ if sp.id not in has_child]
            for sp in leaves:
                out[sp.name] += (b - a) / len(leaves)
        return out

    def write_jsonl(self, path: str) -> None:
        t0 = min((sp.start for sp in self.spans), default=0.0)
        with open(path, 'w') as f:
            for sp in self.spans:
                row = asdict(sp)
                row['start'] -= t0
                row['end'] -= t0
                f.write(json.dumps(row) + '\n')


class TracingSink(TableSink):
    """Delegating ``TableSink`` that times every call into the wrapped
    sink and counts writes and the bytes they leave on disk."""

    def __init__(self, inner: TableSink, tracer: Tracer, root: str) -> None:
        self.inner = inner
        self.tracer = tracer
        self.root = root
        self.writes = 0
        self.bytes_written = 0
        self._lock = threading.Lock()

    def write(self, df, name: str) -> None:
        with self.tracer.span('io_sinks.write'):
            self.inner.write(df, name)
        n = dir_bytes(os.path.join(self.root, name))
        with self._lock:  # shard threads write concurrently
            self.writes += 1
            self.bytes_written += n

    def read(self, spark, name: str):
        with self.tracer.span('io_sinks.read'):
            return self.inner.read(spark, name)

    def mark_committed(self, marker: str) -> None:
        with self.tracer.span('io_sinks.commit'):
            self.inner.mark_committed(marker)

    def is_committed(self, marker: str) -> bool:
        with self.tracer.span('io_sinks.commit'):
            return self.inner.is_committed(marker)


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's ``_``/``.``
    bookkeeping files excluded)."""
    total = 0
    for d, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.startswith(('_', '.')):
                total += os.path.getsize(os.path.join(d, fn))
    return total
