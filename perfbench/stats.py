"""Percentiles and run-to-run spread."""

from __future__ import annotations

import math
import statistics

# samples that must lie beyond a percentile's rank before it is reported
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``values``.

    Raises ``ValueError`` unless at least ``MIN_BEYOND`` samples lie
    beyond the chosen rank, so a tail figure always rests on a tail:
    p50 needs 20 samples, p90 needs 100, p99 needs 1000."""
    xs = sorted(values)
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    beyond = len(xs) - rank
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {len(xs)} samples has {beyond} beyond it; "
            f"need {MIN_BEYOND} (at least {min_samples(q)} samples)")
    return xs[rank - 1]


def min_samples(q: float) -> int:
    """Smallest sample count whose nearest-rank p``q`` has ``MIN_BEYOND``
    samples beyond it."""
    n = 1
    while n - max(1, math.ceil(q / 100.0 * n)) < MIN_BEYOND:
        n += 1
    return n


def spread(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
