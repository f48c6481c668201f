"""Summary statistics for per-op latency samples."""

from __future__ import annotations

import math
import statistics

#: a reported tail percentile must leave at least this many samples above it
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """Highest whole percentile of ``n`` samples with at least
    ``min_beyond`` samples strictly above it, capped at 99; None when the
    sample is too small to support any tail above the median."""
    if n <= min_beyond:
        return None
    p = min(99, math.floor(100 * (n - min_beyond) / n))
    return p if p > 50 else None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return float(xs[rank - 1])


def tail(values, min_beyond: int = TAIL_MIN_BEYOND) -> tuple[int, float] | None:
    """(percentile, value) of the highest supported tail, or None."""
    p = tail_percentile(len(values), min_beyond)
    if p is None:
        return None
    return p, percentile(values, p)
