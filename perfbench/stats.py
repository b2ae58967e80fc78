"""Summary statistics for the benchmark's samples (stdlib only)."""

from __future__ import annotations

import statistics

# a percentile is reported only when at least this many samples lie beyond it
TAIL_MIN_BEYOND = 10
TAIL_CANDIDATES = (99.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (the numpy default)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(values: list[float]) -> dict:
    """The highest of p99/p90/p75/p50 with at least ``TAIL_MIN_BEYOND``
    samples beyond it, with the sample count. Below 20 samples no tail is
    supported and the median is returned with ``supported`` false."""
    n = len(values)
    for q in TAIL_CANDIDATES:
        if n * (100.0 - q) / 100.0 >= TAIL_MIN_BEYOND:
            return {"q": q, "value": percentile(values, q), "n": n,
                    "supported": True}
    return {"q": 50.0, "value": percentile(values, 50.0) if n else 0.0,
            "n": n, "supported": False}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

