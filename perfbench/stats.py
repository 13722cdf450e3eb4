"""Statistics the benchmark reports: percentiles, span self time, ratios.

Kept free of Spark so it can be tested on its own (``test_stats.py``).
"""

from __future__ import annotations

import math
import statistics

# Fewest samples that must lie beyond a percentile before it is reported
# as the tail.
TAIL_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile whose nearest-rank sample has at least
    ``beyond`` samples above it, or None when ``n`` is too small for any."""
    best = None
    for pct in range(1, 100):
        if n - max(1, math.ceil(pct / 100.0 * n)) >= beyond:
            best = pct
    return best


def summarize(values: list[float]) -> dict:
    """Median and tail of a latency sample, with the sample count.

    The tail is the highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it.  When that percentile would fall below the median (fewer than
    ``2 * TAIL_BEYOND + 1`` samples) the sample supports no tail, and the
    maximum is reported instead, with ``tail_pct`` 100.
    """
    n = len(values)
    pct = tail_percentile(n)
    if pct is not None and pct < 50:
        pct = None
    return {
        "n": n,
        "p50": statistics.median(values) if values else 0.0,
        "tail_pct": pct if pct is not None else 100,
        "tail": percentile(values, pct) if pct is not None else (max(values) if values else 0.0),
    }


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if min(b, end) > max(a, start)
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


def self_time(start: float, end: float, busy: list[tuple[float, float]]) -> float:
    """A span's self time: its duration minus the part of it that its child
    spans (and any other ``busy`` intervals, such as Spark jobs it launched
    itself) cover."""
    return (end - start) - covered(start, end, busy)


def ratio(num: float, base: float) -> dict:
    """A ratio with its base; ``value`` is 0.0 when the base is 0."""
    return {"value": (num / base) if base else 0.0, "num": num, "base": base}
