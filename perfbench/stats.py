"""Latency summaries: median and the tail percentile rule.

The tail of ``n`` samples is the highest whole percentile ``p`` whose
nearest-rank value still has at least ``MIN_BEYOND`` samples above it,
and never below the median. With fewer than ``2 * MIN_BEYOND`` samples
the tail therefore equals the median; the percentile and the sample
count are always reported beside it. The median interpolates between
the two middle samples.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of already sorted values (1 ≤ rank ≤ n)."""
    n = len(sorted_vals)
    rank = min(n, max(1, math.ceil(p / 100.0 * n)))
    return sorted_vals[rank - 1]


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int:
    """Highest whole percentile with ``min_beyond`` samples beyond its
    nearest-rank value, clamped to [50, 99]."""
    best = 50
    for p in range(51, 100):
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, tail, tail percentile and sample count of ``values``."""
    if not values:
        return {"n": 0, "p50": 0.0, "tail": 0.0, "tail_pct": 50}
    s = sorted(values)
    pct = tail_percentile(len(s))
    med = statistics.median(s)
    return {
        "n": len(s),
        "p50": med,
        "tail": max(med, nearest_rank(s, pct)),
        "tail_pct": pct,
    }

