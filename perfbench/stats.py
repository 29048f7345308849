"""Latency summaries: median and the tail percentile rule.

A tail is reported at the highest standard percentile that still has at
least ``MIN_BEYOND`` samples strictly above its rank, so a tail never rests
on a handful of samples. Percentiles use the nearest-rank definition.
"""

from __future__ import annotations

import math
import statistics
from typing import Sequence

MIN_BEYOND = 10
CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(pct: float, n: int) -> int:
    # the 1e-9 keeps float error (99.9 / 100 * 10000 = 9990.000000000002)
    # from moving the rank up by one
    return max(1, math.ceil(pct / 100.0 * n - 1e-9))


def nearest_rank(sorted_vals: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile of already sorted values."""
    if not sorted_vals:
        raise ValueError("no samples")
    return sorted_vals[_rank(pct, len(sorted_vals)) - 1]


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest candidate percentile whose nearest rank leaves at least
    ``min_beyond`` of ``n`` samples above it, or None when even the median
    does not."""
    for pct in CANDIDATES:
        if n - _rank(pct, n) >= min_beyond:
            return pct
    return None


def summarize(values: Sequence[float]) -> dict:
    """``{"n", "p50", "tail_pct", "tail"}`` for a latency sample; the tail
    entries are None when the sample is too small for the rule."""
    vals = sorted(values)
    out = {"n": len(vals), "p50": statistics.median(vals) if vals else None,
           "tail_pct": None, "tail": None}
    pct = tail_percentile(len(vals))
    if pct is not None:
        out["tail_pct"] = pct
        out["tail"] = nearest_rank(vals, pct)
    return out

