"""Tests of the benchmark's own arithmetic (metrics.py, oracle.compare).

    python3 -m pytest perfbench/tests
"""
import os
import sys

import statistics

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import oracle  # noqa: E402


# ---- op_p50_s and op_tail_s: Harrell-Davis quantiles ----

def test_hd_median_of_a_symmetric_sample_is_its_centre():
    assert metrics.hd_quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0, abs=1e-6)
    assert metrics.hd_quantile([4.0, 1.0], 0.5) == pytest.approx(2.5, abs=1e-6)
    assert metrics.hd_quantile([7.0], 0.9) == 7.0


def test_hd_quantile_is_monotone_and_within_range():
    values = [0.2, 0.25, 0.3, 0.9, 1.0, 1.1, 1.2, 3.0]
    qs = [metrics.hd_quantile(values, p) for p in (0.1, 0.3, 0.5, 0.7, 0.9)]
    assert qs == sorted(qs)
    assert min(values) < qs[0] and qs[-1] < max(values)


def test_hd_median_moves_smoothly_across_a_gap():
    # 13 fast and 12 slow ops: the sample median sits on the fast side of
    # the gap; nudging one op across it flips the sample median but moves
    # the HD estimate by a small step only
    fast, slow = [0.3 + 0.01 * i for i in range(13)], [1.0 + 0.01 * i for i in range(12)]
    before = metrics.hd_quantile(fast + slow, 0.5)
    after = metrics.hd_quantile(fast[:-1] + [1.2] + slow, 0.5)
    assert statistics.median(fast[:-1] + [1.2] + slow) - statistics.median(fast + slow) > 0.5
    assert 0 < after - before < 0.2


def test_tail_is_the_percentile_with_ten_samples_beyond():
    values = [float(x) for x in range(1, 101)]
    v, pct, beyond = metrics.tail(values)
    assert pct == 90.0 and beyond == 10
    assert v == pytest.approx(90.0 * 101 / 100, abs=0.5)  # HD: near rank 90.9
    v25, pct25, _ = metrics.tail([float(x) for x in range(25, 0, -1)])
    assert pct25 == pytest.approx(60.0) and 14.0 < v25 < 17.0


def test_tail_falls_back_to_the_median_below_eleven_samples():
    v, pct, beyond = metrics.tail([3.0, 1.0, 2.0])
    assert (pct, beyond) == (50.0, 1) and v == pytest.approx(2.0, abs=1e-6)


# ---- span self time with overlapping child jobs ----

def span(name, a, b):
    return {"name": name, "start_ms": a, "end_ms": b}


def test_union_counts_overlap_once_and_clips():
    assert metrics.union_length([(0, 10), (5, 15), (20, 25)]) == 20
    assert metrics.union_length([(0, 10), (2, 3)]) == 10
    assert metrics.union_length([(-5, 5), (95, 120)], 0, 100) == 10
    assert metrics.union_length([]) == 0


def test_self_time_with_overlapping_jobs():
    # op [0, 100]: build [0, 40] holds a job [10, 30]; two overlapping
    # jobs [50, 80] and [60, 90] follow under the op itself
    spans = [span("queries.build", 0, 40), span("spark.job.1", 10, 30),
             span("spark.job.2", 50, 80), span("spark.job.3", 60, 90)]
    st = metrics.self_times(0, 100, spans)
    assert st["op"] == 100 - 40 - 40  # minus build and the jobs' union [50, 90]
    assert st["queries.build"] == 40 - 20
    assert st["spark.job"] == 20 + 30 + 30  # leaves: their whole duration
    # self times of the op and its containers plus the union of everything
    # below them account for the whole op
    assert st["op"] + st["queries.build"] + 20 + 40 == 100


def test_self_time_assigns_children_to_the_innermost_container():
    spans = [span("queries.build", 0, 50), span("catalyst.analysis", 5, 8),
             span("catalyst.planning", 60, 62)]
    st = metrics.self_times(0, 100, spans)
    assert st["queries.build"] == 47
    assert st["op"] == 100 - 50 - 2


def test_job_running_past_the_op_is_clipped_for_the_op():
    st = metrics.self_times(0, 10, [span("spark.job.9", 5, 20)])
    assert st["op"] == 5


# ---- fail_frac accounting ----

def op(name, ok=True, wall=1.0):
    return {"op": name, "ok": ok, "wall_s": wall, "traced": False}


def run_of(ops):
    return {"ops": ops, "window_s": sum(o["wall_s"] for o in ops), "cpu_ops_s": 8.0,
            "setup_s": 3.0, "heap_live_peak_mb": 100.0}


def test_failures_count_thrown_and_reference_mismatch_and_oracle():
    ops = [op("a"), op("a", ok=False), op("b"), op("b"), op("c")]
    assert metrics.failures(ops, set()) == (5, 1)
    # an oracle mismatch fails every op of that name
    assert metrics.failures(ops, {"b"}) == (5, 3)


def test_end_to_end_counts_only_correct_ops_as_throughput():
    ops = [op("a", wall=1.0), op("b", ok=False, wall=1.0), op("c", wall=2.0), op("d", wall=4.0)]
    m, extra = metrics.end_to_end(run_of(ops), {"c"})
    assert extra["attempted"] == 4 and extra["failed"] == 2
    assert extra["fail_frac"] == 0.5
    assert m["ops_per_s"][0] == 2 / 8.0
    assert m["op_p50_s"][0] == pytest.approx(metrics.hd_quantile([1.0, 1.0, 2.0, 4.0], 0.5))
    assert m["cpu_s_per_op"][0] == 2.0
    assert all(v > 0 for v, _ in m.values())


def test_trace_overhead_pairs_ops_by_name():
    ops = [dict(op("a", wall=1.1), traced=True), dict(op("a", wall=1.0)),
           dict(op("b", wall=2.2), traced=True), dict(op("b", wall=2.0)),
           dict(op("c", wall=9.0), traced=True)]  # unpaired: ignored
    assert metrics.trace_overhead(ops) == pytest.approx(1 - 3.0 / 3.3)


def test_spread_is_iqr_over_median():
    # statistics.quantiles (exclusive method) puts the quartiles of 1..10 at
    # 2.75 and 8.25; the median is 5.5
    assert metrics.spread([float(x) for x in range(10, 0, -1)]) == pytest.approx(1.0)


# ---- oracle comparison, as in the repository's DuckDB check ----

def test_compare_exact_tolerance_and_mismatch():
    s = pd.DataFrame({"b": [1.0, 2.0], "a": ["x", "y"]})
    assert oracle.compare(s, s[["a", "b"]]) == ("", 0)  # column order is canonical
    near = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0 * (1 + 1e-12)]})
    assert oracle.compare(s, near) == ("", 1)
    far = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.1]})
    assert "row 1" in oracle.compare(s, far)[0]
    swapped = pd.DataFrame({"a": ["y", "x"], "b": [2.0, 1.0]})
    assert oracle.compare(s, swapped)[0]  # rows must come in order
    assert "row count" in oracle.compare(s, s.head(1))[0]
