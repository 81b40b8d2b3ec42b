"""Percentile rules shared by every workload."""

from __future__ import annotations

import math
import statistics

# the ladder a tail percentile is chosen from
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ten samples beyond it
    (n * (1 - p) >= 10), or None when even the median lacks them."""
    best = None
    for p in LADDER:
        if n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            best = p
    return best


def summary(values: list[float]) -> dict:
    """Median plus the highest supported tail percentile, with the
    sample count; what the stderr report and the ledger print."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    p = tail_percentile(len(values))
    if p is not None and p > 50.0:
        out[f"p{p:g}"] = percentile(values, p)
    return out
