"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values, beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above
    it, as (percentile, value); None when there are too few samples
    for any percentile above the median to qualify."""
    xs = sorted(values)
    idx = len(xs) - beyond - 1
    if idx <= (len(xs) - 1) / 2:
        return None
    return 100.0 * (idx + 1) / len(xs), float(xs[idx])
