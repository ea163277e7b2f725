"""Summary statistics for the benchmark: medians, the supported
percentile rule, and span self time."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

#: candidate percentiles, highest first
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def _rank(n: int, p: float) -> int:
    # the epsilon keeps p * n / 100 from rounding up past an exact integer
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    return sorted(values)[_rank(len(values), p) - 1]


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p``-th
    percentile."""
    return n - _rank(n, p)


def supported_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest percentile of the ladder that has at least
    ``min_beyond`` samples beyond it, or None if not even the median
    does."""
    for p in PERCENTILE_LADDER:
        if beyond(n, p) >= min_beyond:
            return p
    return None


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``;
    overlapping intervals count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its child spans
    cover.  Each span is a dict with ``id``, ``parent``, ``start``,
    ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }
