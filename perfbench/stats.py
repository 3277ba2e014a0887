"""Sample summaries the benchmark reports: the median and the tail.

The tail is the highest whole percentile that still has at least
``beyond`` samples above it (nearest-rank), so a tail read from a short
run is never just its maximum.
"""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """(percentile, value) of the highest whole percentile with at least
    ``beyond`` samples ranked above it, or ``None`` when that percentile
    would not lie above the median (fewer than ``2 * beyond`` samples)."""
    n = len(values)
    if n < 2 * beyond:
        return None
    pct = (100 * (n - beyond)) // n
    rank = -(-pct * n // 100)  # nearest-rank, 1-based
    return pct, float(sorted(values)[rank - 1])
