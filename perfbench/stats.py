"""Order statistics used by every reported timing."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def _rank(n: int, q: float) -> int:
    # rounded first, so 99.9 % of 10 000 is rank 9990, not 9991
    return max(1, math.ceil(round(q / 100 * n, 9)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q`` %
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), q) - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q`` percentile."""
    return n - _rank(n, q)


def highest_supported(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest percentile of ``LADDER`` with at least ``min_beyond``
    samples beyond it, or None when even the lowest has fewer."""
    for q in LADDER:
        if beyond(n, q) >= min_beyond:
            return q
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)
