"""Order statistics shared by the workload reports."""

from __future__ import annotations

import math
import statistics

TAIL_CANDIDATES = (99, 95, 90, 75)


def percentile(values, p: float) -> float:
    """Linear-interpolation percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_rank(n: int) -> int | None:
    """The highest of p99/p95/p90/p75 with at least ten of ``n`` samples
    beyond it, or None when even p75 would rest on fewer than ten."""
    for p in TAIL_CANDIDATES:
        if n * (100 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def summary(values) -> dict:
    """Median, the tail the sample supports, and the sample count."""
    out = {"n": len(values), "p50": statistics.median(values)}
    p = tail_rank(len(values))
    if p is not None:
        out[f"p{p}"] = percentile(values, p)
    return out
