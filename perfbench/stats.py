"""Percentiles and the tail rule shared by every latency metric."""

from __future__ import annotations

import math
import re

# metric names: a letter or digit, then letters, digits, '_', '.', '-'
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# a tail needs this many samples beyond it
TAIL_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least TAIL_BEYOND of n
    samples beyond it, and never below the median: with fewer than
    2 * TAIL_BEYOND samples the tail is the median."""
    if n <= 0:
        raise ValueError("tail of no samples")
    return max(50, math.floor(100.0 * (n - TAIL_BEYOND) / n))


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) of the tail of values."""
    p = tail_percentile(len(values))
    return percentile(values, p), p
