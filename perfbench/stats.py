"""Percentile helpers for the workloads' latency metrics."""

from __future__ import annotations

import math

# Percentiles the tail helper may report, highest first.
LADDER = (99.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """Highest percentile in LADDER with at least ten of `n` samples beyond
    it; 50 when there are too few samples for any tail."""
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0:
            return p
    return 50.0
