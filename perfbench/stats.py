"""Pure helpers of the benchmark: percentiles, quartile spread, interval
arithmetic and the operation log. Nothing here imports Spark, so the
helpers are testable on their own (``test_perfbench.py``)."""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

#: a percentile is reported only when at least this many samples lie
#: beyond it; otherwise the tail it claims to describe is a handful of
#: values and moves with every run
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"percentile rank {q} outside (0, 1]")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``
    percentile."""
    return n - math.ceil(q * n)


def tail_supported(n: int, q: float) -> bool:
    return samples_beyond(n, q) >= MIN_BEYOND


def latency_summary(seconds: list[float]) -> dict:
    """p50 and p90 in milliseconds with the sample count. p90 is ``None``
    unless at least :data:`MIN_BEYOND` samples lie beyond it (100 samples
    or more); the median is given for any non-empty sample."""
    n = len(seconds)
    ms = [s * 1000.0 for s in seconds]
    return {
        "n": n,
        "p50_ms": percentile(ms, 0.5) if n else None,
        "p90_ms": percentile(ms, 0.9) if tail_supported(n, 0.9) else None,
    }


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``
    gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of ``[start, end]`` its children
    cover. Children running at the same time (driver threads) are counted
    once; a child reaching outside the parent is clipped to it."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in children
               if hi > start and lo < end]
    return (end - start) - union_length(clipped)


@dataclass
class OpRecord:
    kind: str
    seconds: float
    ok: bool
    units: int = 0  # rows ingested / merged / returned, keys probed


@dataclass
class OpLog:
    """Runs one operation at a time (closed loop, one client), times it
    and checks its answer. An exception or a wrong answer marks the
    operation failed; it is never skipped. The check runs outside the
    timed interval.

    ``hooks`` are context-manager factories ``hook(kind)`` entered around
    the timed call only; the traced run uses them for spans, Spark job
    groups and CPU accounting."""

    records: list[OpRecord] = field(default_factory=list)
    hooks: list = field(default_factory=list)
    clock: object = time.perf_counter

    def run(self, kind: str, call, check=None, units=None):
        """Time ``call()``; then ``check(result)`` must return True (or
        raise) for the operation to count as correct. ``units(result)``
        gives the work the operation did. Returns the result, or None
        when the call raised."""
        result, err = None, None
        t0 = self.clock()
        try:
            result = self._call(kind, call)
        except Exception as e:  # a failed op is counted, the loop goes on
            err = e
        dt = self.clock() - t0
        ok = err is None
        if ok and check is not None:
            try:
                ok = bool(check(result))
                if not ok:
                    err = AssertionError(f"{kind}: wrong answer")
            except Exception as e:
                ok, err = False, e
        if err is not None:
            print(f"[perfbench] {kind} failed: {err!r}", file=sys.stderr)
            traceback.print_exception(err, file=sys.stderr)
        n = units(result) if ok and units is not None else 0
        self.records.append(OpRecord(kind, dt, ok, n))
        return result if err is None else None

    def _call(self, kind, call):
        if not self.hooks:
            return call()
        from contextlib import ExitStack
        with ExitStack() as stack:
            for hook in self.hooks:
                stack.enter_context(hook(kind))
            return call()

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.records)

    def of(self, *kinds: str) -> list[OpRecord]:
        return [r for r in self.records if r.kind in kinds]

    def rate(self, *kinds: str) -> float:
        """Work units per second spent in operations of ``kinds``; only
        correct operations count."""
        recs = [r for r in self.of(*kinds) if r.ok]
        busy = sum(r.seconds for r in recs)
        return sum(r.units for r in recs) / busy if busy else 0.0

    def latencies(self, *kinds: str) -> list[float]:
        return [r.seconds for r in self.of(*kinds) if r.ok]
