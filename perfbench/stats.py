"""Small pure helpers behind the benchmark's numbers (unit-tested in
``perfbench/test_perfbench.py``)."""

from __future__ import annotations


def outermost(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping or nested intervals into disjoint ones, so a
    layer that calls itself is not counted twice."""
    merged: list[list[float]] = []
    for s, e in sorted(intervals):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def covered(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Length of ``span`` covered by the union of ``children``."""
    lo, hi = span
    clipped = [(max(lo, s), min(hi, e)) for s, e in children if s < hi and e > lo]
    return sum(e - s for s, e in outermost(clipped))


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it its child spans cover."""
    return (span[1] - span[0]) - covered(span, children)


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (value, percentile): the sorted sample with exactly
    ``beyond`` samples after it, and its percentile rank. With
    ``beyond`` samples or fewer no percentile qualifies, and the
    maximum is returned as p100."""
    n = len(samples)
    ordered = sorted(samples)
    if n <= beyond:
        return ordered[-1], 100.0
    return ordered[n - 1 - beyond], 100.0 * (n - beyond) / n


def staggered(n: int, passes: int, stride: int = 2) -> list[tuple[int, int]]:
    """Order of a run's timed runs, as (operation, pass) pairs.

    Pass 0 runs the operations in order. Operation i's run of pass
    p >= 1 follows the pass-0 run of operation i + stride * p, or comes
    after all of pass 0 when there is no such operation. The first pass
    interleaves with the untimed checks, so the later passes spread over
    that span as well instead of bunching up after it, and a stretch of
    host load lands on fewer samples of each operation."""
    order = []
    for j in range(n):
        order.append((j, 0))
        order.extend((j - stride * p, p) for p in range(1, passes) if j - stride * p >= 0)
    for p in range(1, passes):
        order.extend((i, p) for i in range(max(0, n - stride * p), n))
    return order


def failed_frac(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted
