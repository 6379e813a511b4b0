"""Percentiles that state how many samples support them.

A percentile is nearest-rank: the smallest sample with at least q% of
the samples at or below it, so it is always a measured value. ``beyond``
counts the samples ranked above it; a percentile is only reported as
supported when at least ``MIN_BEYOND`` samples lie beyond it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

MIN_BEYOND = 10


@dataclass(frozen=True)
class Percentile:
    q: float
    value: float
    n: int
    beyond: int

    def __str__(self) -> str:
        return f"p{self.q:g}={self.value:.4f} (n={self.n}, {self.beyond} beyond)"


def percentile(values: list[float], q: float) -> Percentile:
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile q={q} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(q / 100 * len(ordered))
    return Percentile(q, ordered[rank - 1], len(ordered), len(ordered) - rank)


def median(values: list[float]) -> float:
    """The usual median (mean of the middle two for an even count)."""
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def highest_supported(values: list[float], qs: tuple[float, ...] = (99, 95, 90, 75, 50)) -> Percentile | None:
    """The highest of ``qs`` with at least ``MIN_BEYOND`` samples beyond it."""
    for q in sorted(qs, reverse=True):
        p = percentile(values, q)
        if p.beyond >= MIN_BEYOND:
            return p
    return None
