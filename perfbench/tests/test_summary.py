import statistics

import pytest

from perfbench.summary import median, quartile_spread, tail


def test_tail_is_the_sample_with_ten_beyond():
    xs = list(range(1, 31))  # 30 samples
    value, pct, n = tail(reversed(xs))
    assert n == 30
    assert value == 20  # ten samples (21..30) lie beyond it
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_moves_up_as_samples_grow():
    value, pct, _ = tail(range(1000))
    assert value == 989 and pct == pytest.approx(99.0)


def test_tail_up_to_twenty_samples_is_the_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert tail(xs) == (3.0, 50.0, 5)
    assert tail(range(19))[0] == median(range(19))
    assert tail(range(20))[0] == median(range(20))  # not the lower middle
    assert tail(range(21))[0] == median(range(21))


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])


def test_quartile_spread_matches_statistics_quantiles():
    xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.02, 1.01]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
