"""Summary statistics for op timings."""

from __future__ import annotations

import math

#: Percentiles the report may use, highest last.
PERCENTILES = (50.0, 90.0, 99.0, 99.9)
#: A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """The highest percentile in ``PERCENTILES`` with at least
    ``MIN_BEYOND`` of ``n`` samples beyond it, or None if even the median
    has fewer."""
    best = None
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of the
    samples at or below it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]
