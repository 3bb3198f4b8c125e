"""Driver-side tracing for the traced run (``--trace 1``).

The benchmark wraps public functions of the ``sleeper_spark`` modules from
its own files; the package is not changed. A wrapper is installed at every
module attribute that holds the function, because callers resolve a
function by their own global name (``ingest_dataframe`` calls
``write_sorted_files``; ``table.py`` reaches compaction through
``compaction_mod``). Methods are wrapped on their class.

Spans are kept in memory (name, start, end, parent span, op id) and
written out when the run ends. Work that runs in executor Python workers
(the compaction merge kernel, Parquet writes and sidecar builds inside
Spark tasks) cannot be wrapped from the driver: it appears as the self
time of the driver span that waits for it.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from perfbench.stats import self_time


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op_id: int | None


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self.paused = False
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span | None:
        if self.paused:
            return None
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, self.clock(), None,
                      stack[-1] if stack else None, self.op_id)
            self.spans.append(sp)
        stack.append(sp.sid)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = self.clock()
        stack = self._stack()
        if stack and stack[-1] == sp.sid:
            stack.pop()
        elif sp.sid in stack:
            stack.remove(sp.sid)

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    @contextmanager
    def suspended(self):
        """Calls made inside (the benchmark's own ``explain_query``
        probes) record no spans."""
        prev, self.paused = self.paused, True
        try:
            yield
        finally:
            self.paused = prev

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` with a span around each call. When the call returns a
        generator, the span lasts until the generator is exhausted or
        closed, so a lazy merge is timed while it is consumed.
        ``on_result(result, args, kwargs)`` records counters; it runs
        outside the span."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp = self.open(name)
            try:
                result = fn(*args, **kwargs)
            except BaseException:
                self.close(sp)
                raise
            if inspect.isgenerator(result):
                return self._spanned(result, sp)
            self.close(sp)
            if on_result is not None and not self.paused:
                on_result(result, args, kwargs)
            return result
        return wrapper

    def _spanned(self, gen, sp):
        try:
            yield from gen
        finally:
            self.close(sp)

    # ------------------------------------------------------------------
    # reading the spans
    # ------------------------------------------------------------------
    def closed(self) -> list[Span]:
        return [s for s in self.spans if s.end is not None]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.closed() if s.name == name)

    def self_total(self, name: str) -> float:
        spans = self.closed()
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return sum(self_time(s.start, s.end, kids.get(s.sid, []))
                   for s in spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def install(tracer: Tracer, functions: dict, methods: dict,
            counters: dict | None = None):
    """Wrap ``functions`` ({(module, attr): span name}) at every
    ``sleeper_spark`` module attribute holding the same object, and
    ``methods`` ({(class, attr): span name}) on their class.
    ``counters`` maps a span name to its ``on_result`` callback. Returns
    a callable that restores every original."""
    counters = counters or {}
    undo = []
    mods = [m for n, m in list(sys.modules.items())
            if m is not None and (n == "sleeper_spark"
                                  or n.startswith("sleeper_spark."))]
    for (mod, attr), name in functions.items():
        orig = getattr(mod, attr)
        wrapped = tracer.wrap(orig, name, counters.get(name))
        for m in mods:
            for a, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, a, wrapped)
                    undo.append((m, a, orig))
    for (cls, attr), name in methods.items():
        orig = cls.__dict__[attr]
        setattr(cls, attr, tracer.wrap(orig, name, counters.get(name)))
        undo.append((cls, attr, orig))

    def uninstall():
        for owner, a, orig in reversed(undo):
            setattr(owner, a, orig)
    return uninstall


def wrapper_cost_s(n: int = 20000) -> float:
    """Seconds one wrapped call adds over a plain call, measured on a
    no-op; multiplied by the span count it estimates the tracer's own
    share of the traced run."""
    def noop():
        return None

    t = Tracer()
    wrapped = t.wrap(noop, "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    plain = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        wrapped()
    traced = time.perf_counter() - t0
    return max(0.0, (traced - plain) / n)
