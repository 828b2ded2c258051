"""Summary statistics shared by the workloads and the diff tool."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only with at least this many samples above it.
MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """The q-quantile (0 < q < 1) by nearest rank on the sorted samples."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return float(s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))])


def reportable(n: int, q: float) -> bool:
    """True when n samples leave at least MIN_BEYOND above the q-quantile."""
    return n - math.ceil(q * n) >= MIN_BEYOND


def tail(values, grid=(0.99, 0.95, 0.9, 0.75)) -> tuple[float, float] | None:
    """(q, value) for the highest percentile in ``grid`` that the sample
    count supports, or None when even the lowest is not supported."""
    values = list(values)
    for q in grid:
        if reportable(len(values), q):
            return q, percentile(values, q)
    return None

