"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import math
import statistics

#: Percentiles tried above the median, highest first.
TAILS = (99.9, 99.0, 90.0)
#: A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty list."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile in :data:`TAILS` that leaves at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it, or None."""
    for p in TAILS:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """``{"n", "p50"}`` plus ``"p<tail>"`` when the sample count allows it."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    tail = tail_percentile(len(values))
    if tail is not None:
        out[f"p{tail:g}"] = percentile(values, tail)
    return out
