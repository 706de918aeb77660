"""Summary statistics for the benchmark's timings."""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Percentile:
    q: float
    value: float
    n: int  # samples the percentile was taken over


def nearest_rank(values, q: float) -> Percentile:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    xs = sorted(values)
    rank = math.ceil(q / 100 * len(xs))
    return Percentile(q, xs[max(rank, 1) - 1], len(xs))


def tail_percentile(values, candidates=(99.9, 99.0, 95.0, 90.0)) -> Percentile | None:
    """The highest candidate percentile with at least ten samples above its
    rank, or None when there are too few samples for any of them."""
    for q in candidates:
        if len(values) - math.ceil(q / 100 * len(values)) >= 10:
            return nearest_rank(values, q)
    return None
