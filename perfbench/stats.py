"""Order statistics for benchmark samples."""

from __future__ import annotations

import math


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(pct, len(ordered)) - 1]


def _rank(pct: float, n: int) -> int:
    # rounding first keeps 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(round(pct / 100.0 * n, 6)))


def median(values: list[float]) -> float:
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2


#: Percentiles the tail helper may report, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile in ``TAIL_PERCENTILES`` that has at least
    ``beyond`` samples above its rank, as ``(pct, value, n)``. With too
    few samples for even the median, ``pct`` is 100 and ``value`` is
    the maximum: the sample supports no tail, so report the worst."""
    n = len(values)
    for pct in TAIL_PERCENTILES:
        if n - _rank(pct, n) >= beyond:
            return pct, percentile(values, pct), n
    return 100.0, max(values), n
