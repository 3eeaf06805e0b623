"""The benchmark's arithmetic: latency summaries, failure share and span
self time. Pure functions, tested in ``perfbench/tests``."""

from __future__ import annotations

import math

TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ``TAIL_MIN_BEYOND`` of
    ``n`` samples strictly beyond its nearest-rank value."""
    if n <= TAIL_MIN_BEYOND:
        raise ValueError(
            f"{n} samples cannot support a tail with {TAIL_MIN_BEYOND} beyond it"
        )
    p = 100 * (n - TAIL_MIN_BEYOND) // n
    while p > 0 and n - math.ceil(p * n / 100) < TAIL_MIN_BEYOND:
        p -= 1
    return p


def nearest_rank(values: list[float], p: float) -> float:
    """The nearest-rank ``p``-th percentile (``0 < p <= 100``)."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("no samples")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2


def failure_share(attempted: int, failed: int) -> float:
    """Share of attempted ops that raised or returned a wrong result."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    return failed / attempted


def covered_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
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


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered_length(children, start, end)
