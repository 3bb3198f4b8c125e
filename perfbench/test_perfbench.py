"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os
import sys
import types

import pytest

from perfbench.stats import (
    MIN_BEYOND,
    OpLog,
    latency_summary,
    percentile,
    quartile_spread,
    samples_beyond,
    self_time,
    union_length,
)
from perfbench.tracing import Tracer, install

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


# --- percentiles and the >= 10 beyond rule ---------------------------------

def test_percentile_nearest_rank():
    vals = [float(v) for v in range(1, 101)]  # 1..100
    assert percentile(vals, 0.5) == 50.0
    assert percentile(vals, 0.9) == 90.0
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_p90_needs_ten_samples_beyond_it():
    assert samples_beyond(100, 0.9) == MIN_BEYOND
    assert samples_beyond(99, 0.9) == 9
    s99 = latency_summary([0.001 * i for i in range(99)])
    assert s99["n"] == 99 and s99["p90_ms"] is None
    assert s99["p50_ms"] == pytest.approx(49.0)
    s100 = latency_summary([0.001 * i for i in range(1, 101)])
    assert s100["p90_ms"] == pytest.approx(90.0)
    assert latency_summary([])["p50_ms"] is None


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
    import statistics
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / med)


# --- self time ---------------------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 5), (1, 2), (3, 4)]) == 5.0


def test_self_time_nested_and_overlapping_children():
    # children overlap each other (driver threads) and one reaches past
    # the parent's end: covered = [1,5] + [8,10] = 6
    assert self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4.0)
    assert self_time(0, 10, []) == 10.0
    assert self_time(0, 10, [(11, 12)]) == 10.0


def test_tracer_self_time_of_nested_wrapped_calls():
    clock = FakeClock()
    tr = Tracer(clock=clock)

    def inner():
        clock.t += 2.0

    w_inner = tr.wrap(inner, "inner")

    def outer():
        clock.t += 1.0
        w_inner()
        w_inner()
        clock.t += 3.0

    tr.wrap(outer, "outer")()
    assert tr.total("outer") == pytest.approx(8.0)
    assert tr.total("inner") == pytest.approx(4.0)
    assert tr.self_total("outer") == pytest.approx(4.0)
    parents = {s.name: s.parent for s in tr.spans}
    assert parents["outer"] is None
    assert parents["inner"] == 0


def test_generator_span_lasts_until_consumed():
    clock = FakeClock()
    tr = Tracer(clock=clock)

    def rows():
        for i in range(3):
            clock.t += 1.0
            yield i

    assert list(tr.wrap(lambda: rows(), "merge")()) == [0, 1, 2]
    assert tr.total("merge") == pytest.approx(3.0)


def test_suspended_tracer_records_nothing_and_counts_nothing():
    tr = Tracer()
    seen = []
    f = tr.wrap(lambda: 1, "f", on_result=lambda r, a, k: seen.append(r))
    with tr.suspended():
        f()
    assert tr.spans == [] and seen == []
    f()
    assert len(tr.spans) == 1 and seen == [1]


def test_install_rebinds_every_module_alias_and_restores():
    def target(x):
        return x + 1

    a = types.ModuleType("sleeper_spark._perfbench_test_a")
    b = types.ModuleType("sleeper_spark._perfbench_test_b")
    a.target = target
    b.alias = target  # a caller's ``from a import target as alias``
    sys.modules[a.__name__], sys.modules[b.__name__] = a, b
    try:
        tr = Tracer()
        undo = install(tr, {(a, "target"): "t"}, {})
        assert a.target(1) == 2 and b.alias(2) == 3
        assert [s.name for s in tr.spans] == ["t", "t"]
        undo()
        assert a.target is target and b.alias is target
    finally:
        del sys.modules[a.__name__], sys.modules[b.__name__]


# --- failed-operation counting -------------------------------------------------

def test_oplog_counts_exceptions_and_wrong_answers():
    log = OpLog()

    def boom():
        raise RuntimeError("engine error")

    def bad_check(_):
        raise KeyError("check blew up")

    assert log.run("point", lambda: 1, check=lambda r: r == 1,
                   units=lambda r: 1) == 1
    assert log.run("point", boom, check=lambda r: True) is None
    assert log.run("point", lambda: 2, check=lambda r: r == 1) is None
    assert log.run("point", lambda: 3, check=bad_check) is None
    log.run("range", lambda: [1, 2], units=len)
    assert log.attempted == 5
    assert log.failed == 3
    assert [r.ok for r in log.of("point")] == [True, False, False, False]
    # rates and latencies use correct operations only
    assert len(log.latencies("point")) == 1
    assert log.rate("range") > 0


def test_oplog_check_runs_outside_the_timed_interval():
    clock = FakeClock()
    log = OpLog(clock=clock)

    def call():
        clock.t += 1.0
        return 0

    def slow_check(_):
        clock.t += 5.0
        return True

    log.run("point", call, check=slow_check)
    assert log.records[0].seconds == pytest.approx(1.0)


# --- BENCHMARK.json and the harness agree -----------------------------------------

def test_benchmark_json_matches_harness_metrics():
    from perfbench.harness import END_TO_END, PER_LAYER
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert any(m["name"] == "setup_s" and m["better"] == "lower"
               for m in bench["end_to_end"])
