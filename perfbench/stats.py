"""Summary statistics shared by the benchmark and its compare command.

Pure Python, no Spark: the benchmark's own tests import this module.
"""

from __future__ import annotations

import math
import statistics


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {values!r}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives
    them (the 'exclusive' method); a single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median: the run-to-run spread a bound is checked against."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    end = -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def clip(iv: tuple[float, float], window: tuple[float, float]) -> tuple[float, float] | None:
    s, e = max(iv[0], window[0]), min(iv[1], window[1])
    return (s, e) if e > s else None
