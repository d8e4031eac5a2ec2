import statistics

import pytest

from stats import percentile, phi, quartile_spread


@pytest.mark.parametrize("n, p", [
    (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
    (10000, 99.9)])
def test_phi_takes_highest_percentile_with_ten_beyond(n, p):
    got_p, value, got_n = phi([float(i) for i in range(n)])
    assert (got_p, got_n) == (p, n)
    assert value == percentile([float(i) for i in range(n)], p)


def test_phi_falls_back_to_median_when_samples_shrink():
    for n in range(1, 20):
        xs = [float(i) for i in range(n)]
        p, value, got_n = phi(xs)
        assert (p, value, got_n) == (50.0, statistics.median(xs), n)
        # fewer than ten samples lie above the fallback
        assert sum(1 for x in xs if x > value) < 10


def test_ten_samples_lie_beyond_each_rung():
    xs = [float(i) for i in range(1000)]
    p, value, n = phi(xs)
    assert sum(1 for x in xs if x > value) >= 10


def test_percentile_nearest_rank():
    xs = [3.0, 1.0, 2.0, 5.0, 4.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    vals = [float(v) for v in range(1, 11)]
    assert quartile_spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)
