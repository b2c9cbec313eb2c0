"""The tail-percentile rule and the interval arithmetic behind self
time and driver gap."""

import pytest

from perfbench import stats


def test_tail_needs_ten_samples_beyond():
    t = stats.tail([float(i) for i in range(1, 101)])
    assert (t.percentile, t.value, t.beyond, t.samples) == (90.0, 90.0, 10, 100)


def test_tail_climbs_the_ladder_with_more_samples():
    assert stats.tail([float(i) for i in range(1000)]).percentile == 99.0
    assert stats.tail([float(i) for i in range(10000)]).percentile == 99.9
    assert stats.tail([float(i) for i in range(40)]).percentile == 75.0


def test_tail_just_below_a_rung_falls_to_the_next():
    # 99 samples: p90 leaves 9 beyond, p75 leaves 24
    t = stats.tail([float(i) for i in range(99)])
    assert t.percentile == 75.0 and t.beyond >= stats.MIN_BEYOND


def test_tail_smallest_rung_exactly():
    t = stats.tail([float(i) for i in range(20)])
    assert (t.percentile, t.value, t.beyond) == (50.0, 9.0, 10)


@pytest.mark.parametrize("n", [1, 5, 9, 10, 19])
def test_tail_with_too_few_samples_reports_the_maximum(n):
    values = [float((7 * i) % n) for i in range(n)]
    t = stats.tail(values)
    assert (t.percentile, t.value, t.samples, t.beyond) == (100.0, max(values), n, 0)


def test_tail_and_median_reject_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])
    with pytest.raises(ValueError):
        stats.median([])


def test_median_even_and_odd():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_union_counts_overlap_once():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3)]) == 10
    assert stats.union_length([]) == 0


def test_union_clips_to_the_window():
    assert stats.union_length([(-5, 1), (9, 20)], clip=(0, 10)) == 2
    assert stats.union_length([(11, 12)], clip=(0, 10)) == 0


def test_self_time_subtracts_children_once():
    # a 10 s span with overlapping children covering 2..6 and a child
    # poking outside it: self time is 10 - 4 - 1
    assert stats.gap((0, 10), [(2, 5), (4, 6), (9, 12)]) == 5


def test_driver_gap_with_no_jobs_is_the_whole_operation():
    assert stats.gap((3, 7.5), []) == 4.5


def test_driver_gap_with_back_to_back_jobs():
    assert stats.gap((0, 10), [(1, 4), (4, 8)]) == 3
