"""In-memory span tracer for the traced run.

Spans are opened from the benchmark's own files: around its calls into
the engine, and by replacing public functions and methods at the binding
their callers use (a module attribute for a function imported at call
time or referenced as a module global, a class attribute for a method).
Nothing in ``vector_search_spark`` is edited.

Each span records its name, start, end, parent, request id and thread.
Every span runs its Spark jobs under a job group of its own, so the
scheduler counters of a span are those of the jobs it started itself.
DataFrames are lazy: a function that returns one is charged only for
planning, and the jobs run later at the caller's action are charged to
the caller's span.

A layer's self time is its span's duration minus the part of it that
child spans cover. The tracer times its own bookkeeping so the record
can report it next to the traced-minus-untraced difference.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")
LAZY_NOTE = (
    "DataFrames are lazy: a span around a function that returns a "
    "DataFrame covers its planning only; the jobs that run at the caller's "
    "action count toward the caller's span."
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    request: str | None
    thread: str
    end: float | None = None
    group: str | None = None
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, request: str | None = None):
        t0 = time.perf_counter()
        stack = self._stack()
        # a callback thread (foreachBatch) has no span of its own yet: its
        # parent is whatever the main thread has open
        outer = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        if request is None and outer is not None:
            request = outer.request
        sp = Span(next(self._ids), name, 0.0, outer.id if outer else None,
                  request, threading.current_thread().name)
        sp.group = f"perfbench-{sp.id}"
        # restore exactly what was set before: a foreachBatch callback runs
        # its jobs on the stream's own thread, which has a group of its own
        saved = {k: self.sc.getLocalProperty(k) for k in GROUP_PROPS}
        self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        with self._lock:
            self.spans.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)
            self.overhead_s += time.perf_counter() - sp.end

    # -- wrapping at the caller's binding --------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a module function, a method or a
        classmethod) with a version that runs inside span ``name``.
        ``on_result(span, result, args, kwargs)`` may annotate the span."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out, args, kwargs)
                return out

        self._patches.append((owner, attr, raw))
        setattr(owner, attr, classmethod(traced) if is_cm else traced)

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # -- analysis --------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    @staticmethod
    def self_time(span: Span, kids: list[Span]) -> float:
        """Duration minus the union of the children's intervals (children
        on other threads may overlap each other)."""
        covered, cur_s, cur_e = 0.0, None, None
        for k in sorted(kids, key=lambda k: k.start):
            s, e = max(k.start, span.start), min(k.end or k.start, span.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def attach_counters(self, counters) -> None:
        """Scheduler counters per span, read once after the run (the
        status store keeps every job of the run)."""
        for s in self.spans:
            s.counters = counters.group(s.group)

    def records(self) -> list[dict]:
        kids = self.children()
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "self_s": self.self_time(s, kids.get(s.id, [])),
             "parent": s.parent, "request": s.request, "thread": s.thread,
             "counters": s.counters, **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


class StreamProgress:
    """Collects StreamingQueryListener progress events: per trigger wall,
    addBatch wall and input rows, as the engine reports them."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "add_batch_ms": p.durationMs.get("addBatch", 0),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def data_events(self, expect: int, timeout_s: float = 10.0) -> list[dict]:
        """Progress events of triggers that read rows; waits for late
        deliveries (the listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            got = [e for e in self.events if e["rows"] > 0]
            if len(got) >= expect:
                return got
            time.sleep(0.05)
        return [e for e in self.events if e["rows"] > 0]

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
