"""Summaries of per-op samples."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile that still has ``beyond`` samples above
    it, as ``(value, percentile)``: the sample at 0-based rank
    ``n - beyond - 1`` of the sorted list, which is percentile
    ``100 * (n - beyond) / n``. Runs too short to place it above the
    median report the median at percentile 50."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return statistics.median(xs), 50.0
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n

