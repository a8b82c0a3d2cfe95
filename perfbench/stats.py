"""Summary statistics over a run's per-op times."""

from __future__ import annotations

import math

# A tail percentile must leave at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def quantile(values: list[float], p: float) -> float:
    """Linear-interpolated quantile, ``p`` in [0, 100] (numpy's default)."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile that leaves at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples beyond it.

    ``n * (1 - p/100) >= 10`` gives ``p <= 100 * (1 - 10/n)``; with ten
    samples or fewer no percentile above the minimum qualifies, so the
    rule yields 0.
    """
    if n <= 0:
        raise ValueError("tail of no samples")
    return max(0, math.floor(100.0 * (1.0 - TAIL_MIN_BEYOND / n) + 1e-9))


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) of the tail rule."""
    p = tail_percentile(len(values))
    return quantile(values, p), p


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values: list[float]) -> float:
    return quantile(values, 50)
