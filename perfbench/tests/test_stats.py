import pytest

from perfbench.stats import median, percentile, tail


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1
    with pytest.raises(ValueError):
        percentile([], 50)


def test_median_of_even_count_averages_the_middle_pair():
    assert median([4, 1, 3, 2]) == 2.5
    assert median([7]) == 7


@pytest.mark.parametrize(
    "n, pct",
    [(5, 100.0), (19, 100.0), (20, 50.0), (40, 75.0), (100, 90.0), (200, 95.0),
     (1000, 99.0), (10000, 99.9)],
)
def test_tail_keeps_ten_samples_beyond_the_reported_percentile(n, pct):
    xs = [float(i) for i in range(1, n + 1)]
    got_pct, value, count = tail(xs)
    assert (got_pct, count) == (pct, n)
    assert len([x for x in xs if x > value]) >= (10 if pct < 100 else 0)
    assert value == (percentile(xs, pct) if pct < 100 else max(xs))
