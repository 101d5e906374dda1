"""Percentile helpers.

A failed or wrong operation is recorded as an infinite latency: it
stays in the sample, so it counts against every percentile instead of
silently leaving the distribution.
"""

from __future__ import annotations

import math

#: candidate tail percentiles, highest first
TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (NumPy's default method); an
    infinite sample sorts last, so enough failures make it infinite."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    if lo == hi or xs[lo] == xs[hi]:
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def beyond(n: int, p: float) -> int:
    """Number of samples strictly above the p-th percentile rank."""
    return n - math.ceil(n * p / 100.0)


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least ``MIN_BEYOND``
    samples beyond it, or None when even the lowest has too few."""
    for p in TAILS:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None

