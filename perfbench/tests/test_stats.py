"""Tail-percentile rule, interval union and span self time."""

import pytest

from perfbench import stats
from perfbench.trace import Tracer, union_length


def test_tail_is_the_value_with_ten_samples_above_it():
    xs = list(range(1, 41))  # 40 samples, shuffled order must not matter
    t = stats.tail(reversed(xs))
    assert t["value"] == 30
    assert sum(1 for x in xs if x > t["value"]) == 10
    assert t["percentile"] == pytest.approx(75.0)
    assert t["samples"] == 40


def test_tail_with_eleven_samples_is_the_minimum():
    t = stats.tail([5.0] + [9.0] * 10)
    assert t == {"value": 5.0, "percentile": pytest.approx(100 / 11), "samples": 11}


@pytest.mark.parametrize("n", [0, 1, 10])
def test_too_few_samples_have_no_tail(n):
    t = stats.tail([1.0] * n)
    assert t["value"] is None and t["percentile"] is None
    assert t["samples"] == n


def test_summary_reports_median_tail_and_count():
    s = stats.summary([float(x) for x in range(100)])
    assert s["p50_s"] == 49.5
    assert s["tail_s"] == 89.0
    assert s["tail_percentile"] == 90.0
    assert s["samples"] == 100


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_self_time_subtracts_the_children_union():
    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 1.0, "end": 2.0},
    ]
    tr.self_times()
    assert [s["self_s"] for s in tr.spans] == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []
