"""Summary statistics shared by the workloads and the report."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """The highest percentile that has at least ten samples beyond it.

    Returns ``(value, percentile, n)``. In sorted order the sample at
    index ``n - 11`` is the highest one with ten samples above it, so it
    sits at percentile ``100 * (n - 10) / n``. Up to 20 samples that
    sample is not above the median, so the median is reported instead and
    the percentile reads 50.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n <= 20:
        return median(xs), 50.0, n
    return float(xs[n - 11]), 100.0 * (n - 10) / n, n


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them — the spread the benchmark's bounds are set against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
