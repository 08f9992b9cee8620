from __future__ import annotations

import statistics

import pytest

from perfbench.stats import nearest_rank, relative_iqr, tail_percentile


@pytest.mark.parametrize(
    "n, q",
    [
        (19, None),  # not even the median has ten samples beyond it
        (20, 50.0),
        (39, 50.0),
        (40, 75.0),
        (99, 75.0),  # p90's rank is 90: only 9 beyond
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    samples = [float(i) for i in range(1, n + 1)]
    got = tail_percentile(samples)
    if q is None:
        assert got is None
        return
    assert got[0] == q
    beyond = sum(s > got[1] for s in samples)
    assert beyond >= 10
    assert got[1] == nearest_rank(samples, q)


def test_tail_percentile_ignores_sample_order():
    samples = [5.0, 1.0, 3.0] * 40
    assert tail_percentile(samples) == tail_percentile(sorted(samples))


def test_nearest_rank():
    assert nearest_rank([3.0, 1.0, 2.0], 50) == 2.0
    assert nearest_rank([1.0, 2.0, 3.0, 4.0], 100) == 4.0
    assert nearest_rank([7.0], 0) == 7.0


def test_relative_iqr_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert relative_iqr(values) == pytest.approx((q3 - q1) / q2)
