import pytest

from perfbench.stats import MIN_BEYOND, median, tail


def test_tail_has_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in samples) == MIN_BEYOND


def test_tail_at_twenty_samples_is_the_median_rank():
    samples = [float(i) for i in range(20, 0, -1)]  # unsorted input
    value, pct, n = tail(samples)
    assert (value, pct, n) == (10.0, 50.0, 20)


def test_tail_at_a_thousand_samples_is_p99():
    value, pct, _n = tail([float(i) for i in range(1000)])
    assert pct == 99.0
    assert value == 989.0


@pytest.mark.parametrize("n", [1, 4, 10, 11, 19])
def test_tail_without_ten_samples_beyond_the_median_is_the_maximum(n):
    samples = [float(i) for i in range(n)]
    assert tail(samples) == (float(n - 1), 100.0, n)


def test_no_samples_raise():
    with pytest.raises(ValueError):
        tail([])
    with pytest.raises(ValueError):
        median([])
