"""Summary statistics used by the runner and the spread check."""

from __future__ import annotations

import math
import statistics
from fractions import Fraction

#: percentiles a tail latency may be reported at, lowest first
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def nearest_rank(samples: list[float], q: float) -> float:
    """The q-th percentile by the nearest-rank rule: the smallest sample
    with at least q% of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    return ordered[_rank(q, len(ordered)) - 1]


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of percentile q among n samples, in exact
    arithmetic (99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(Fraction(str(q)) * n / 100))


def tail_percentile(
    samples: list[float], min_beyond: int = 10
) -> tuple[float, float] | None:
    """(q, value) for the highest ladder percentile that has at least
    ``min_beyond`` samples strictly beyond its rank, or None when even
    the median lacks that many (fewer than 2 * min_beyond samples)."""
    n = len(samples)
    best = None
    for q in PERCENTILE_LADDER:
        beyond = n - _rank(q, n)
        if beyond >= min_beyond:
            best = (q, nearest_rank(samples, q))
    return best


def relative_iqr(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
