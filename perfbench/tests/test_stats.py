import statistics

import pytest

from perfbench import stats


@pytest.mark.parametrize("n,q", [(1, 100.0), (10, 100.0), (20, 100.0), (22, 54.0),
                                 (30, 66.0), (40, 75.0), (100, 90.0), (1000, 99.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert stats.tail_percentile(n) == q


@pytest.mark.parametrize("n", range(21, 400, 7))
def test_tail_rank_has_at_least_ten_above_and_no_higher_percentile_qualifies(n):
    q = stats.tail_percentile(n)
    values = list(range(n))
    above = sum(v > stats.percentile(values, q) for v in values)
    assert above >= 10
    if q < 99:
        assert sum(v > stats.percentile(values, q + 1) for v in values) < 10


def test_tail_reports_value_percentile_and_count():
    values = [float(i) for i in range(1, 101)]
    t = stats.tail(values)
    assert t == {"value": 90.0, "percentile": 90.0, "n": 100}
    assert stats.tail([3.0, 1.0, 2.0]) == {"value": 3.0, "percentile": 100.0, "n": 3}


def test_tail_is_never_below_the_median():
    for n in range(1, 60):
        values = [float(i) for i in range(n)]
        assert stats.tail(values)["value"] >= statistics.median(values)


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(values, 50) == 3.0
    assert stats.percentile(values, 100) == 5.0
    assert stats.percentile(values, 1) == 1.0

