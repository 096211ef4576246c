"""Sample summaries: median, nearest-rank percentiles and the tail rule."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, lowest first.
TAIL_PERCENTILES = (75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile of n samples (the
    epsilon keeps 99.9% of 10000 at 9990 despite float rounding)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return float(xs[_rank(len(xs), p) - 1])


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile position."""
    return n - _rank(n, p)


def tail(values) -> tuple[float, float] | None:
    """(p, value) for the highest candidate percentile that still has at
    least ``TAIL_MIN_BEYOND`` samples beyond it; None when even the
    lowest candidate lacks them."""
    best = None
    for p in TAIL_PERCENTILES:
        if beyond(len(values), p) >= TAIL_MIN_BEYOND:
            best = (p, percentile(values, p))
    return best
