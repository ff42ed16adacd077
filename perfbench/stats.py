"""Order statistics used for reporting."""

from __future__ import annotations

import math

# Percentiles tried for the tail report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default rule)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs: list[float]) -> float:
    return percentile(xs, 50.0)


def tail(xs: list[float]) -> tuple[float, float] | None:
    """The highest percentile of :data:`TAIL_LADDER` that has at least
    :data:`MIN_BEYOND` samples beyond it, with its value; None when
    even the lowest one has fewer."""
    for p in TAIL_LADDER:
        if len(xs) * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            return p, percentile(xs, p)
    return None
