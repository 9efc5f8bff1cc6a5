"""Summary statistics for repeated timings."""

from __future__ import annotations

import math
import statistics

# a percentile is reported only with at least this many samples beyond it
MIN_TAIL_SAMPLES = 10
PERCENTILES = (90.0, 99.0, 99.9)


def tail_percentile(n: int) -> float | None:
    """The highest of PERCENTILES that has MIN_TAIL_SAMPLES samples
    beyond it among `n`, or None when even p90 has too few."""
    best = None
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_TAIL_SAMPLES - 1e-9:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """{"n", "p50"} plus the tail percentile the sample count supports."""
    out = {"n": len(values), "p50": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out
