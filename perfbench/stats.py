"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import math

# Percentiles considered for a latency tail, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# A reported tail percentile needs at least this many samples beyond it.
MIN_BEYOND = 10


def nearest_rank(sorted_values: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank percentile: (value, 1-based rank) of percentile `p`."""
    n = len(sorted_values)
    # the tolerance keeps float error from pushing an exact rank (99.9% of 10000) up by one
    rank = max(1, math.ceil(p * n / 100.0 - 1e-9))
    return sorted_values[rank - 1], rank


def tail_percentile(values: list[float]) -> dict | None:
    """The highest percentile of TAIL_LADDER with at least MIN_BEYOND
    samples strictly above its rank: {"p", "value", "n", "beyond"}.
    None when even the median has fewer than MIN_BEYOND samples beyond it."""
    s = sorted(values)
    best = None
    for p in TAIL_LADDER:
        if not s:
            break
        value, rank = nearest_rank(s, p)
        beyond = len(s) - rank
        if beyond < MIN_BEYOND:
            break
        best = {"p": p, "value": value, "n": len(s), "beyond": beyond}
    return best

