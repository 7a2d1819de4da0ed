"""Order statistics used by every metric."""

from __future__ import annotations

import statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``min_beyond``
    samples strictly beyond it, as (percentile, value); None when there
    are too few samples. With n sorted samples, the value at rank r
    (1-based) has n - r samples beyond it, so r = n - min_beyond and
    the percentile is 100 * r / n."""
    n = len(xs)
    r = n - min_beyond
    if r < 1:
        return None
    return 100.0 * r / n, float(sorted(xs)[r - 1])
