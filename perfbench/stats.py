"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# Candidate percentiles for the tail figure, highest first.
PHI_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # the epsilon keeps 99.9 % of 10000 at rank 9990, not 9991
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` % of
    the samples at or below it."""
    xs = sorted(samples)
    return xs[_rank(p, len(xs)) - 1]


def phi(samples: list[float]) -> tuple[float, float, int]:
    """``(p, value, n)`` for the highest ladder percentile that leaves at
    least ten samples above its rank. With fewer than twenty samples no
    rung qualifies and the rule falls back to the median (the mean of the
    middle two for even ``n``); ``n`` is returned so the reader can tell
    which case applied."""
    n = len(samples)
    for p in PHI_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p, percentile(samples, p), n
    return 50.0, statistics.median(samples), n


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
