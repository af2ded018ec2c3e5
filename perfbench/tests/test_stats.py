"""The benchmark's own arithmetic: the percentile rule, failed_frac and
the span self-time computation.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
import tracing  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 5.0


def test_tail_needs_ten_samples_beyond():
    # the median is reported on its own; a tail starts at p75
    assert stats.tail([1.0] * 39) is None
    p, _, n = stats.tail([float(i) for i in range(40)])
    assert (p, n) == (75.0, 40)
    assert stats.tail([float(i) for i in range(99)])[0] == 75.0
    assert stats.tail([float(i) for i in range(100)])[0] == 90.0
    assert stats.tail([float(i) for i in range(199)])[0] == 90.0
    assert stats.tail([float(i) for i in range(200)])[0] == 95.0
    assert stats.tail([float(i) for i in range(1000)])[0] == 99.0
    p, v, n = stats.tail([float(i) for i in range(100)])
    assert v == pytest.approx(89.1) and n == 100


def test_hd_median_is_a_smooth_median():
    assert stats.hd_median([4.0]) == 4.0
    assert stats.hd_median([3.0, 1.0, 2.0]) == pytest.approx(2.0)  # symmetric: the middle
    assert stats.hd_median([1.0, 2.0, 3.0, 10.0]) == pytest.approx(stats.hd_median([10.0, 3.0, 2.0, 1.0]))
    # two neighbours around the middle swapping places moves it a little, not a whole gap
    a = stats.hd_median([1.0, 2.0, 2.4, 3.2, 4.0])
    b = stats.hd_median([1.0, 2.0, 3.3, 3.2, 4.0])
    assert abs(b - a) < 0.5 * (3.3 - 2.4)
    assert min([1.0, 2.0, 9.0]) < stats.hd_median([1.0, 2.0, 9.0]) < 9.0


def test_failed_frac_counts_failed_checks_against_attempts():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


def test_value_hash_ignores_row_and_column_order():
    a = stats.value_hash([(1, "x"), (2, "y")], ["n", "s"])
    b = stats.value_hash([("y", 2), ("x", 1)], ["s", "n"])
    assert a == b
    assert a != stats.value_hash([(1, "x"), (3, "y")], ["n", "s"])
    # ints and floats of equal value compare equal, as in the oracle rule
    assert stats.value_hash([(1,)], ["n"]) == stats.value_hash([(1.0,)], ["n"])


def test_self_time_subtracts_union_of_children():
    t = tracing.Tracer(True)
    t.spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "id": 0, "parent": None},
        {"name": "a", "start": 1.0, "end": 4.0, "id": 1, "parent": 0},
        {"name": "b", "start": 3.0, "end": 6.0, "id": 2, "parent": 0},  # overlaps a
        {"name": "c", "start": 2.0, "end": 3.0, "id": 3, "parent": 1},
    ]
    self_s = t.self_times()
    assert self_s == {"op": pytest.approx(5.0), "a": pytest.approx(2.0), "b": pytest.approx(3.0),
                      "c": pytest.approx(1.0)}


def test_spans_nest_across_threads():
    import threading

    t = tracing.Tracer(True)
    with t.span("outer"):
        done = threading.Event()

        def cb():
            with t.span("inner"):
                pass
            done.set()

        th = threading.Thread(target=cb)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive() and done.is_set()
    inner = [s for s in t.spans if s["name"] == "inner"][0]
    assert inner["parent"] == 0
