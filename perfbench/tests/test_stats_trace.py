"""Percentile rule, span self-time arithmetic, the scheduler load sampler
and the closed loop's minimum reply count."""

import threading
import time
import types

import pytest

from perfbench import stats
from perfbench.loop import MAX_STRETCH, closed_loop
from perfbench.trace import (LoadSampler, Span, Tracer, covered,
                             layer_self_per_op, self_times)


# -- percentiles --------------------------------------------------------------
def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(reversed(xs), 90) == 90


def test_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError, match="9 beyond"):
        stats.percentile(range(99), 90)
    assert stats.percentile(range(100), 90) == 89
    with pytest.raises(ValueError):
        stats.percentile(range(19), 50)
    assert stats.percentile(range(20), 50) == 9


@pytest.mark.parametrize("q,n", [(50, 20), (75, 40), (90, 100), (99, 1000)])
def test_min_samples(q, n):
    assert stats.min_samples(q) == n
    stats.percentile(range(n), q)
    with pytest.raises(ValueError):
        stats.percentile(range(n - 1), q)


def test_percentile_rejects_empty_input():
    with pytest.raises(ValueError, match="no samples"):
        stats.percentile([], 50)


@pytest.mark.parametrize("q", [0, 100, -5, 101])
def test_percentile_rejects_rank_outside_open_interval(q):
    with pytest.raises(ValueError, match="outside"):
        stats.percentile(range(10_000), q)


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    vals = [8, 9, 10, 10, 10, 10, 10, 10, 11, 12]
    assert stats.spread(vals) == pytest.approx((10.25 - 9.75) / 10)


# -- self time ----------------------------------------------------------------
def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered((0, 10), [(-5, 2), (9, 20)]) == 3
    assert covered((0, 10), [(4, 4), (6, 5)]) == 0


def _span(i, name, a, b, parent=None, op="m0-1"):
    return Span(i, name, a, b, parent, op)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "commands", 0.0, 10.0),
        _span(1, "search.plan", 1.0, 4.0, parent=0),
        _span(2, "parser", 2.0, 3.0, parent=1),
        _span(3, "reply.collect", 3.5, 6.0, parent=0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (6 - 1))       # union [1, 6]
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(2.5)
    # self times cover the root once, plus what the children overlap
    assert sum(st.values()) == pytest.approx(10 + 0.5)  # children overlap 0.5


def test_layer_self_per_op_averages_over_all_ops():
    spans = [
        _span(0, "commands", 0, 4, op="a"),
        _span(1, "parser", 1, 2, parent=0, op="a"),
        _span(2, "commands", 0, 2, op="b"),
        _span(3, "commands", 0, 100, op="other"),
    ]
    per_op = layer_self_per_op(spans, {"a", "b"})
    assert per_op["commands"] == pytest.approx((3 + 2) / 2)
    assert per_op["parser"] == pytest.approx(1 / 2)


# -- runtime wrappers ---------------------------------------------------------
class _Layer:
    def outer(self, x):
        return mod.inner(x) + 1


def _inner(x):
    return x * 2


mod = types.SimpleNamespace(inner=_inner)


def test_install_records_nested_spans_only_inside_ops():
    tr = Tracer()
    orig_outer = _Layer.__dict__["outer"]
    tr.install([(_Layer, "outer", "outer"), (mod, "inner", "inner")])
    try:
        assert _Layer().outer(3) == 7
        assert tr.spans == []                       # no active op
        tr.begin_op("m0-1")
        assert _Layer().outer(3) == 7
        tr.end_op()
    finally:
        tr.restore()
    assert _Layer.__dict__["outer"] is orig_outer and mod.inner is _inner
    inner, outer = tr.spans                          # appended on exit
    assert (outer.name, inner.name) == ("outer", "inner")
    assert inner.parent == outer.id and outer.parent is None
    assert outer.op == inner.op == "m0-1"
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_spans_from_threads_keep_their_own_parents():
    tr = Tracer()
    tr.install([(_Layer, "outer", "outer"), (mod, "inner", "inner")])
    barrier = threading.Barrier(4)

    def client(c):
        tr.begin_op(f"m{c}")
        barrier.wait(timeout=10)
        for _ in range(50):
            _Layer().outer(c)
        tr.end_op()

    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        tr.restore()
    by_id = {s.id: s for s in tr.spans}
    assert len(tr.spans) == 4 * 50 * 2
    for s in tr.spans:
        if s.name == "inner":
            assert by_id[s.parent].name == "outer"
            assert by_id[s.parent].op == s.op


# -- scheduler load sampler -----------------------------------------------------
def test_load_sampler_counts_running_and_waiting_tasks():
    stage = types.SimpleNamespace(numTasks=10, numActiveTasks=3,
                                  numCompletedTasks=4, numFailedTasks=1)
    tracker = types.SimpleNamespace(
        getActiveJobsIds=lambda: [7, 8],
        getActiveStageIds=lambda: [1, 2],
        getStageInfo=lambda sid: stage if sid == 1 else None)
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(statusTracker=lambda: tracker))
    sampler = LoadSampler(spark)
    assert sampler.sample() == (2, 3, 2)
    sampler.samples = [(2, 3, 2), (0, 1, 0)]
    sampler._stop.set()
    sampler.start()
    assert sampler.stop() == {"spark.jobs_in_flight": 1.0,
                              "spark.tasks_running": 2.0,
                              "spark.tasks_waiting": 1.0}


# -- closed loop --------------------------------------------------------------
class _SleepyWorkload:
    seed, readers = 0, 2

    def client_ops(self, c):
        return [{"kind": "k"}]

    def run_op(self, op):
        time.sleep(0.02)
        return True, "", 1.0

    def writer(self, stop, results):
        pass


def test_closed_loop_runs_on_to_the_minimum_reply_count():
    # two clients reply about 20 times in 0.2 s
    results, _, wall = closed_loop(_SleepyWorkload(), 0.2, min_ops=30)
    assert len(results) >= 30 and wall > 0.2


def test_closed_loop_stops_at_the_stretch_limit():
    results, _, wall = closed_loop(_SleepyWorkload(), 0.1, min_ops=10**6)
    assert wall < MAX_STRETCH * 0.1 + 0.1
