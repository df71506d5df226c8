"""Spark-free statistics helpers for the benchmark (unit-tested in
``perfbench/test_stats.py``)."""

from __future__ import annotations

import math

# Percentiles tried for a tail, highest first (nearest-rank definition).
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(vals) -> float:
    s = sorted(vals)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(vals, min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile in ``TAIL_LADDER`` that has at least
    ``min_beyond`` samples above its nearest-rank position, as
    ``(percentile, value)``; ``None`` when even the median lacks them."""
    s = sorted(vals)
    n = len(s)
    for pct in TAIL_LADDER:
        k = max(1, math.ceil(pct / 100.0 * n))
        if n - k >= min_beyond:
            return pct, s[k - 1]
    return None


def qerrors(estimates, truths) -> list[float]:
    """Per-query q-error max(est/true, true/est) over queries whose true
    cardinality is positive; estimates below 1 count as 1 (the repo's
    estimator report does the same)."""
    out = []
    for e, t in zip(estimates, truths):
        if t > 0:
            e = max(float(e), 1.0)
            out.append(max(e / t, t / e))
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)
