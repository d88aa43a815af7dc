"""Pure statistics helpers (no Spark, no I/O)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

# Tail percentiles tried from the highest down. A percentile is reported
# only when at least MIN_BEYOND samples lie above it, so a "p99" is never
# the single slowest of 40 samples.
TAIL_LADDER = (0.999, 0.99, 0.9)
MIN_BEYOND = 10


def nearest_rank(values: Sequence[float], q: float) -> float:
    """The nearest-rank ``q``-quantile: the ceil(q·n)-th smallest value."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q``-quantile's rank."""
    return n - max(1, math.ceil(q * n))


def tail(values: Sequence[float]) -> tuple[float, float] | None:
    """``(q, value)`` for the highest ``q`` in ``TAIL_LADDER`` that has at
    least ``MIN_BEYOND`` samples beyond it; None when even the lowest
    rung has too few (the caller reports the median alone)."""
    for q in TAIL_LADDER:
        if beyond(len(values), q) >= MIN_BEYOND:
            return q, nearest_rank(values, q)
    return None


def summary(values: Sequence[float]) -> dict:
    """Median, sample count and the reportable tail of ``values``."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    if len(values) <= 10:
        out["all"] = [round(v, 3) for v in values]
    t = tail(values)
    if t is not None:
        out[f"p{t[0] * 100:g}"] = t[1]
    return out


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``[start, end]``
    intervals (Spark jobs submitted from pool threads overlap)."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(interval: tuple[float, float], window: tuple[float, float]) -> tuple[float, float] | None:
    """``interval`` ∩ ``window``, or None when they do not overlap."""
    start, end = max(interval[0], window[0]), min(interval[1], window[1])
    return (start, end) if end > start else None
