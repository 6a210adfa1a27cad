"""Summaries of per-op latency samples."""

from __future__ import annotations

import math

TAIL_PERCENTILES = (99.9, 99.0, 90.0)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 99.9% of 10,000 is 9,990, not 9,991)."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(samples)
    return ordered[_rank(p, len(ordered)) - 1]


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile with at least ten samples
    above its rank, or None when no tail percentile has that support."""
    n = len(samples)
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= 10:
            return p, percentile(samples, p)
    return None

