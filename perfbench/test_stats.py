"""Spark-free tests of the benchmark's helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import math
import threading

import pytest

from perfbench import stats
from perfbench.spans import Tracer
from perfbench.workloads import components_of, op_count, run_ops, shingles


def test_tail_picks_highest_percentile_with_ten_beyond():
    vals = list(range(1, 1001))  # 1..1000
    assert stats.tail(vals) == (99.0, 990)  # 10 samples above rank 990
    assert stats.tail(list(range(1, 101))) == (90.0, 90)
    assert stats.tail(list(range(1, 20))) is None  # the median has 9 beyond
    assert stats.tail(list(range(1, 21))) == (50.0, 10)


def test_tail_is_order_free_and_counts_failures_as_slowest():
    vals = [5.0] * 30 + [math.inf] * 3
    assert stats.tail(list(reversed(vals))) == (50.0, 5.0)
    assert stats.tail(vals + [math.inf] * 10) == (75.0, math.inf)


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_qerrors_exclude_zero_truth_and_clamp_estimates():
    assert stats.qerrors([10, 5, 0, 7], [5, 0, 4, 7]) == [2.0, 4.0, 1.0]


def test_self_time_subtracts_union_of_children():
    # span 0..10; children overlap on 2..4 and stick out past the end
    assert stats.self_time(0, 10, [(1, 3), (2, 4), (9, 12)]) == pytest.approx(6.0)
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(11, 12), (-3, -1)]) == 10
    assert stats.self_time(0, 10, [(0, 10), (2, 3)]) == 0


def test_tracer_nests_spans_and_restores_patches():
    class Layer:
        def inner(self):
            return 1

        def outer(self):
            return self.inner() + self.inner()

    tr = Tracer()
    tr.wrap(Layer, "inner", "inner")
    tr.wrap(Layer, "outer", "outer")
    assert Layer().outer() == 2
    (outer,) = tr.of("outer")
    assert [s[4] for s in tr.of("inner")] == [outer[0], outer[0]]
    assert tr.self_total("outer", {"inner"}) <= outer[3] - outer[2]
    tr.restore()
    Layer().outer()
    assert tr.count("outer") == 1


def test_tracer_keeps_parents_per_thread():
    tr = Tracer()

    def work():
        tr.call("outer", lambda: tr.call("inner", lambda: None))

    threads = [threading.Thread(target=work) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    outer_ids = {s[0] for s in tr.of("outer")}
    assert len(outer_ids) == 8
    assert {s[4] for s in tr.of("inner")} == outer_ids


def test_run_ops_isolates_failures():
    def op(i):
        if i == 1:
            raise RuntimeError("boom")
        return 0.001

    lat, failed = run_ops(op, n_ops=3, cap_s=60.0)
    assert failed == 1 and lat == [0.001, math.inf, 0.001]


def test_run_ops_times_a_fixed_count_and_stops_only_at_the_cap():
    calls = []

    def op(i):
        calls.append(i)
        return 0.0

    assert len(run_ops(op, n_ops=5, cap_s=60.0)[0]) == 5  # fast ops never run past n_ops
    calls.clear()
    assert len(run_ops(op, n_ops=5, cap_s=-1.0)[0]) == 1  # past the cap after the first
    assert op_count(15, 60, 1_000) == 1_000 and op_count(15, 0.25, 4) == 4
    assert op_count(30, 0.25, 4) == 8 and op_count(30, 60, 1_000) == 1_800


def test_components_and_shingles():
    assert components_of([(3, 5), (5, 9), (1, 2)]) == {1: 1, 2: 1, 3: 3, 5: 3, 9: 3}
    assert shingles("a b c d") == {"a b c", "b c d"}
    assert shingles("a b") == set()
