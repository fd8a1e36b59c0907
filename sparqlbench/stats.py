"""Order statistics for latency samples."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


class TooFewSamples(ValueError):
    """A percentile was asked for with fewer than MIN_BEYOND samples
    above it, so it would be set by a handful of outliers."""


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile. Refuses when fewer than ten samples lie
    beyond the requested rank."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TooFewSamples("no samples")
    rank = max(1, math.ceil(pct / 100.0 * n))
    if n - rank < MIN_BEYOND and pct < 100.0:
        raise TooFewSamples(
            f"p{pct:g} of {n} samples has {n - rank} beyond it (< {MIN_BEYOND})"
        )
    return xs[rank - 1]


def highest_tail(values) -> "tuple[float, float] | None":
    """(pct, value) for the highest candidate percentile that has at
    least ten samples beyond it, or None when even the median has not."""
    for pct in TAIL_CANDIDATES:
        try:
            return pct, percentile(values, pct)
        except TooFewSamples:
            continue
    return None


def median(values) -> float:
    return statistics.median(values)
