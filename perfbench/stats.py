"""Latency summaries."""

from __future__ import annotations

import math

#: percentiles a report may carry, highest last
PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def _rank(n: int, p: float) -> int:
    # rounded first, so 99.9% of 10000 is rank 9990 and not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p%
    of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    return sorted(samples)[_rank(len(samples), p) - 1]


def beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile in PERCENTILES with at least
    ``min_beyond`` samples above it, or None if even the median has
    fewer."""
    best = None
    for p in PERCENTILES:
        if beyond(n, p) >= min_beyond:
            best = p
    return best
