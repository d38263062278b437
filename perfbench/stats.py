"""Percentiles and interval arithmetic for the benchmark's timings.

Pure functions, so the tests can pin the math without Spark.
"""

from __future__ import annotations

import math
import statistics

MIN_TAIL_SAMPLES = 10


class TooFewSamples(ValueError):
    """A tail percentile was asked of a sample too small to support it."""


def median(values: list[float]) -> float:
    if not values:
        raise TooFewSamples("median of no samples")
    return statistics.median(values)


def tail_percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0 < q < 100, nearest rank), refused
    unless at least ``MIN_TAIL_SAMPLES`` samples lie above it — a run too
    short for its tail fails instead of printing a misleading number."""
    if not 0 < q < 100:
        raise ValueError(f"q must be in (0, 100), got {q}")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    above = len(ordered) - rank
    if above < MIN_TAIL_SAMPLES:
        raise TooFewSamples(
            f"p{q:g} of {len(ordered)} samples has {above} above it, "
            f"need {MIN_TAIL_SAMPLES}"
        )
    return ordered[rank - 1]


def highest_supported_percentile(n: int) -> int | None:
    """The highest whole percentile that ``tail_percentile`` accepts for
    ``n`` samples, or None when the sample supports no tail."""
    for q in range(99, 49, -1):
        if n - max(1, math.ceil(q / 100 * n)) >= MIN_TAIL_SAMPLES:
            return q
    return None


Interval = tuple[float, float]


def union(intervals: list[Interval]) -> list[Interval]:
    """Merge overlapping intervals; empty ones are dropped."""
    out: list[Interval] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def length(intervals: list[Interval]) -> float:
    return sum(b - a for a, b in union(intervals))


def subtract(span: Interval, holes: list[Interval]) -> list[Interval]:
    """The parts of ``span`` not covered by ``holes``."""
    out, cur = [], span[0]
    for a, b in union(holes):
        if b <= cur or a >= span[1]:
            continue
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if cur < span[1]:
        out.append((cur, span[1]))
    return out


def intersect(xs: list[Interval], ys: list[Interval]) -> list[Interval]:
    out = []
    for a, b in union(xs):
        for c, d in union(ys):
            lo, hi = max(a, c), min(b, d)
            if hi > lo:
                out.append((lo, hi))
    return out


def self_and_driver_time(
    span: Interval, children: list[Interval], stages: list[Interval]
) -> tuple[float, float]:
    """(self, driver) seconds of a span: self time is the span minus what
    its child spans cover; driver time is the part of self time during
    which none of the span's own stages was running."""
    own = subtract(span, children)
    busy = intersect(own, stages)
    return length(own), length(own) - length(busy)
