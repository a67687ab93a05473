"""Summaries of timing samples: the median and the tail percentile rule."""

from __future__ import annotations

import math
import statistics

# percentiles considered for the tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def nearest_rank(values: list[float], p: float) -> float:
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(values: list[float]) -> dict | None:
    """The highest percentile of TAIL_LADDER that leaves at least
    MIN_BEYOND samples strictly above its nearest-rank position, or None
    when there are too few samples for any of them.

    A percentile with fewer samples beyond it is decided by a handful of
    outliers, so it is not reported at all."""
    n = len(values)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return {"p": p, "value": nearest_rank(values, p)}
    return None


def summary(values: list[float]) -> dict:
    """Median, tail (see `tail`) and sample count of one timing."""
    return {
        "median": statistics.median(values) if values else None,
        "tail": tail(values),
        "n": len(values),
    }

