"""The benchmark's sample summaries: tail rule and median."""

import pytest

from perfbench import stats


def test_tail_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]          # 1..100
    pct, v = stats.tail(xs)
    assert pct == 90 and v == 90.0
    assert sum(x > v for x in xs) == 10


@pytest.mark.parametrize("n", [20, 21, 25, 33, 57, 99, 100, 101, 250, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    pct, v = stats.tail(xs)
    assert sum(x > v for x in xs) >= 10
    # one whole percentile higher would leave fewer than ten beyond
    rank_up = -(-(pct + 1) * n // 100)
    assert n - rank_up < 10 or pct == 99


def test_tail_under_twenty_samples_is_none():
    assert stats.tail([1.0] * 19) is None
    assert stats.tail([]) is None
    pct, _ = stats.tail([1.0] * 20)
    assert pct == 50


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_median():
    assert stats.median([10.0, 12.0, 11.0, 13.0, 9.0]) == 11.0
    assert stats.median([10.0, 12.0]) == 11.0
    with pytest.raises(ValueError):
        stats.median([])
