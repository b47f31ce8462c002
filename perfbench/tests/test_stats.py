import pytest

from perfbench.stats import error_rate, geomean, median, tail, union_seconds


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 41)]  # 1..40
    value, pct = tail(values)
    assert pct == 75.0
    assert value == 30.0
    assert sum(1 for v in values if v > value) == 10


def test_tail_is_the_highest_supported_percentile():
    values = [float(i) for i in range(1, 1001)]
    value, pct = tail(values)
    assert pct == 99.0
    assert sum(1 for v in values if v > value) == 10
    # one step higher would leave only 9 beyond
    assert sum(1 for v in values if v > value + 1) == 9


def test_tail_falls_back_to_median_below_twenty_samples():
    values = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert tail(values) == (3.0, 50.0)
    assert tail([float(i) for i in range(19)]) == (median([float(i) for i in range(19)]), 50.0)


def test_tail_ignores_input_order():
    values = [float(i) for i in range(25)]
    assert tail(values) == tail(list(reversed(values)))


def test_geomean_weighs_every_operation_alike():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([0.5] * 9) == pytest.approx(0.5)
    # doubling one operation's cost moves the figure by the same share
    # whether that operation is cheap or costly
    base = [0.1, 0.2, 5.0]
    assert geomean([0.2, 0.2, 5.0]) / geomean(base) == pytest.approx(
        geomean([0.1, 0.2, 10.0]) / geomean(base)
    )
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_error_rate_counts_failures_against_attempts():
    assert error_rate([False, True, False, True]) == (4, 2, 0.5)
    assert error_rate([False] * 7) == (7, 0, 0.0)
    with pytest.raises(ValueError):
        error_rate([])


def test_union_seconds_merges_overlaps():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([(0, 1), (0, 1)]) == 1
    assert union_seconds([]) == 0
    assert union_seconds([(2, 1)]) == 0
