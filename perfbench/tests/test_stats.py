"""The tail rule: the reported value has at least ten samples beyond it."""

import pytest

from perfbench import stats


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 1000])
def test_tail_has_exactly_ten_samples_beyond(n):
    values = [float(i) for i in range(n)][::-1]  # order must not matter
    value, pct, count = stats.tail(values)
    assert count == n
    assert sum(v > value for v in values) == stats.TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_is_the_highest_such_percentile():
    values = [float(i) for i in range(100)]
    value, pct, _ = stats.tail(values)
    assert (value, pct) == (89.0, 90.0)
    # one sample higher would leave only nine beyond
    assert sum(v > value + 1 for v in values) == 9


def test_tail_with_ties_counts_samples_not_values():
    values = [1.0] * 15 + [2.0] * 10
    value, pct, _ = stats.tail(values)
    assert value == 1.0 and pct == 60.0


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_refuses_too_few_samples(n):
    with pytest.raises(ValueError, match="more than 10"):
        stats.tail([1.0] * n)
