"""Summary statistics for measured samples."""

from __future__ import annotations

import math
import statistics


def median(samples: list[float]) -> float:
    """Median, or 0.0 for no samples (every operation raised)."""
    return float(statistics.median(samples)) if samples else 0.0


def nearest_rank(sorted_samples: list[float], p: float) -> float:
    """The p-th percentile by nearest rank (p in (0, 100])."""
    i = max(1, math.ceil(p / 100.0 * len(sorted_samples)))
    return sorted_samples[i - 1]


def tail(samples: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """(p, value) for the highest whole percentile p in [50, 99] that has at
    least ``beyond`` samples strictly above its nearest-rank position, or
    None when even the median has fewer (fewer than 2·beyond samples)."""
    s = sorted(samples)
    n = len(s)
    for p in range(99, 49, -1):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p, nearest_rank(s, p)
    return None
