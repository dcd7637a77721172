"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import statistics

# a tail percentile is only reported where at least this many samples lie
# beyond it, so one outlier cannot be the tail on its own
MIN_BEYOND = 10


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``MIN_BEYOND`` samples beyond it.

    Returns ``(value, percentile, n)``. Over the sorted samples, rank ``r``
    (1-based) has ``n - r`` samples above it, so the highest qualifying rank
    is ``n - MIN_BEYOND``: the ``100 * (n - MIN_BEYOND) / n`` percentile
    (p50 at n=20, p90 at n=100, p99 at n=1000). Below ``2 * MIN_BEYOND``
    samples that percentile is under the median, or does not exist; the
    tail is then the maximum, reported as percentile 100 so the output
    shows which rule applied.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 2 * MIN_BEYOND:
        return xs[-1], 100.0, n
    rank = n - MIN_BEYOND
    return xs[rank - 1], 100.0 * rank / n, n
