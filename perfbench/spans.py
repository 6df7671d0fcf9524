"""Spans recorded from the benchmark's side of each layer boundary.

Nothing in the engine is edited. The traced run:
- wraps module-level functions (``pipeline.load_raw``, ``readers``'
  ``read_csv`` as the pipeline sees it, ``scd2_merge``, …) by swapping
  the module attribute for a timing wrapper;
- times a ``Warehouse`` by binding wrappers on the instance, so calls
  the warehouse makes on itself (``self.overwrite_from_plan`` inside
  ``apply_scd2_changeset``) are timed too;
- records each streaming micro-batch's ``durationMs`` through a
  ``StreamingQueryListener``.

Spans live in memory and are summarized at the end of the run. A
span's self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    child_s: float = 0.0


@dataclass
class Tracer:
    """Collects spans; ``op`` is the id of the timed operation that is
    running, so every span and Spark job can be charged to one op."""

    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    op: int | None = None
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _undo: list = field(default_factory=list)

    @property
    def _stack(self) -> list[int]:
        # one span stack per thread: the engine's thread pools may call
        # instrumented methods concurrently
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        with self._lock:
            self.spans.append(Span(name, time.time(), parent=parent, op=self.op))
            idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        sp = self.spans[idx]
        sp.end = time.time()
        self._stack.pop()
        if sp.parent is not None:
            with self._lock:
                self.spans[sp.parent].child_s += sp.end - sp.start

    def wrap(self, fn, name: str):
        tracer = self

        def timed(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        timed.__wrapped__ = fn
        return timed

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a timed wrapper until :meth:`close`."""
        orig = getattr(module, attr)
        setattr(module, attr, self.wrap(orig, name))
        self._undo.append(lambda: setattr(module, attr, orig))

    def instrument(self, obj, methods: list[str], prefix: str) -> None:
        """Time ``obj.<method>`` for each method by binding a wrapper on
        the instance; the class is untouched."""
        for m in methods:
            setattr(obj, m, self.wrap(getattr(obj, m), f"{prefix}.{m}"))

    def close(self) -> None:
        while self._undo:
            self._undo.pop()()

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: total seconds, self seconds and calls, over
        the spans recorded inside timed ops."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"s": 0.0, "self_s": 0.0, "calls": 0})
        for sp in self.spans:
            if not sp.end or sp.op is None:
                continue
            d = sp.end - sp.start
            t = out[sp.name]
            t["s"] += d
            t["self_s"] += d - sp.child_s
            t["calls"] += 1
        return dict(out)

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans if s.name == name and s.end and s.op is not None]


class NullTracer:
    """Stands in for :class:`Tracer` in untraced runs."""

    op = None

    def span(self, name: str):
        return nullcontext()


def stream_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` that sums each micro-batch's
    ``durationMs`` split into ``tracer.counts`` under ``stream.*``."""
    from pyspark.sql.streaming import StreamingQueryListener

    keys = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution")

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            c = tracer.counts
            c["stream.batches"] += 1
            if not p.numInputRows:
                c["stream.empty_batches"] += 1
            dur = p.durationMs or {}
            for k in keys:
                c[f"stream.{k}_ms"] += float(dur.get(k, 0) or 0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
