"""Order statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics
from typing import Dict, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError("percentile must be in (0, 100], got %r" % p)
    ordered = sorted(values)
    return float(ordered[max(1, math.ceil(p / 100.0 * len(ordered))) - 1])


def summary(values: Sequence[float]) -> Dict[str, float]:
    """Median and p99 with the sample count, and how many samples lie
    above the p99 (a percentile is only worth reporting when that count
    reaches about ten)."""
    p99 = percentile(values, 99)
    return {"n": len(values), "median": median(values), "p99": p99,
            "n_above_p99": sum(1 for v in values if v > p99)}
