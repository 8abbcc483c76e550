"""Percentile helpers for the benchmark's latency samples."""

from __future__ import annotations

import statistics
from typing import Sequence

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def p50(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail(values: Sequence[float]) -> tuple[float, float]:
    """``(value, percentile)`` of the highest percentile with at least
    ``TAIL_BEYOND`` samples beyond it.

    The sample at sorted index ``n - 11`` has exactly ten samples above it;
    its percentile is the share of samples at or below it. With ten samples
    or fewer no percentile qualifies, and the maximum is reported as the
    100th percentile.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= TAIL_BEYOND:
        return float(s[-1]), 100.0
    i = n - TAIL_BEYOND - 1
    return float(s[i]), 100.0 * (i + 1) / n
