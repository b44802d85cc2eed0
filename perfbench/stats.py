"""Summary statistics shared by the runner and the steadiness check."""

from __future__ import annotations

import statistics

#: The tail is the highest percentile with at least this many samples
#: above it.
TAIL_MARGIN = 10


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """Return ``(value, percentile, n)`` for the highest percentile that
    has at least ``TAIL_MARGIN`` samples strictly above it, or ``None``
    when there are too few samples for one.

    With ``n`` sorted samples that is the ``(n - TAIL_MARGIN)``-th
    smallest, i.e. the percentile ``100 * (n - TAIL_MARGIN) / n``."""
    n = len(values)
    if n <= TAIL_MARGIN:
        return None
    ordered = sorted(values)
    k = n - TAIL_MARGIN
    return ordered[k - 1], 100.0 * k / n, n


def quartile_spread(values: list[float]) -> tuple[float, float, float, float]:
    """Return ``(q1, median, q3, (q3 - q1) / median)`` as the steadiness
    rule computes them, with ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2
