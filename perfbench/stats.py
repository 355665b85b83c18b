"""Summary statistics shared by the benchmark and its self-tests."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first. The reported tail is the
# highest one that still has at least `min_beyond` samples above it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples: list[float], min_beyond: int = 10) -> tuple[float | None, float | None, int]:
    """(percentile, value, n) for the highest percentile in TAIL_LADDER
    with at least `min_beyond` samples beyond its nearest rank, or
    (None, None, n) when the sample is too small for any of them."""
    vals = sorted(samples)
    n = len(vals)
    for p in TAIL_LADDER:
        k = max(1, math.ceil(round(p * n / 100.0, 9)))
        if n - k >= min_beyond:
            return p, vals[k - 1], n
    return None, None, n


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0
