"""Order statistics shared by the runner and the comparison tool."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile that still leaves at least
    ``beyond`` of ``n`` samples above it, or None when ``n`` is too
    small for any percentile at or above the median to qualify."""
    if n <= 0:
        return None
    p = math.floor(100 * (n - beyond) / n)
    return p if p >= 50 else None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return float(s[rank - 1])


def tail(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """(percentile, value) of the tail rule, or None without enough
    samples."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        return None
    return p, percentile(values, p)
