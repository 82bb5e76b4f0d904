"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math

#: Candidate tail percentiles, highest first: 99.9, then every whole
#: percent down to the median. ``tail`` reports the first one that still
#: has at least ``beyond`` samples above it.
TAIL_LADDER = (99.9, *range(99, 49, -1))


def median(xs: list[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def nearest_rank(xs: list[float], pct: float) -> float:
    """The sample at nearest rank ``ceil(pct/100 * n)`` (1-based)."""
    s = sorted(xs)
    return s[max(1, math.ceil(pct / 100 * len(s))) - 1]


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """Highest ladder percentile with at least ``beyond`` samples above its
    nearest-rank position: returns ``(percentile, value, samples_beyond)``.

    Fewer than ``2 * beyond`` samples leave no percentile with that many
    samples beyond it; the median is returned and ``samples_beyond`` shows
    the shortfall.
    """
    n = len(xs)
    for pct in TAIL_LADDER:
        above = n - max(1, math.ceil(pct / 100 * n))
        if above >= beyond:
            return pct, nearest_rank(xs, pct), above
    pct = TAIL_LADDER[-1]
    return pct, nearest_rank(xs, pct), n - max(1, math.ceil(pct / 100 * n))


def drift_pct(xs: list[float]) -> float:
    """Least-squares trend across ``xs`` (pass times in order), as the
    fitted change from first to last pass in percent of their mean."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, sum(xs) / n
    slope = sum((i - mx) * (y - my) for i, y in enumerate(xs)) / sum((i - mx) ** 2 for i in range(n))
    return 100.0 * slope * (n - 1) / my
