"""Order statistics the benchmark reports.

Timings are reported as a median plus the highest percentile that still
has at least ten samples beyond it, together with that percentile and the
sample count, so a tail figure never rests on one or two outliers.
"""

from __future__ import annotations

import math

TAIL_MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def tail_percentile(n: int) -> float:
    """Highest whole percentile above the median with at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples strictly above its nearest rank.
    When none qualifies (fewer than about ``2 * TAIL_MIN_BEYOND`` samples)
    the tail is the maximum, reported as percentile 100."""
    if n <= 0:
        raise ValueError("tail of no samples")
    best = 100.0
    for q in range(51, 100):
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            best = float(q)
    return best


def tail(values: list[float]) -> dict:
    """``{"value", "percentile", "n"}`` for the tail rule above."""
    q = tail_percentile(len(values))
    return {"value": percentile(values, q), "percentile": q, "n": len(values)}
