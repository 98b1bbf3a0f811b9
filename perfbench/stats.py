"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

#: Percentiles a tail metric may report, highest first.
TAIL_LADDER = (99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile on the ladder with at least ``min_beyond`` of
    ``n`` samples above it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p
    return None


def covered(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``children``
    intervals, each clipped to the parent."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in children if min(e, end) > max(s, start)
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)
