"""Latency summaries and the percentile sample-count rule.

The median is always reported.  A higher percentile p is reported only
when at least ``MIN_BEYOND`` samples lie beyond it, i.e. when
n * (1 - p) >= MIN_BEYOND: p90 needs 100 samples and p99 needs 1000.
Every summary states its sample count.
"""

from __future__ import annotations

import math
import resource

MIN_BEYOND = 10
TAIL_PERCENTILES = (90, 99)


def min_samples(p: float) -> int:
    """Smallest sample count that leaves MIN_BEYOND samples beyond p."""
    return math.ceil(round(MIN_BEYOND * 100 / (100 - p), 9))


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile of ``values`` (0 < p < 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def latency_summary(seconds) -> dict:
    """{"n": count, "p50_ms": .., "p90_ms": .., "p99_ms": ..}; the tail
    percentiles are present only when the sample count supports them."""
    xs = list(seconds)
    out: dict = {"n": len(xs)}
    if not xs:
        return out
    out["p50_ms"] = percentile(xs, 50) * 1000
    for p in TAIL_PERCENTILES:
        if len(xs) >= min_samples(p):
            out[f"p{p}_ms"] = percentile(xs, p) * 1000
    return out


def peak_rss_mb() -> float:
    """Peak resident set size of this process in MiB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
