"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

# the conventional percentiles a report may name, ascending
PERCENTILES = (50, 75, 80, 90, 95, 99, 99.9)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest conventional percentile that leaves at least
    ``min_beyond`` of ``n`` samples above it; None when even the median
    does not (fewer than 2 x min_beyond samples)."""
    best = None
    for p in PERCENTILES:
        if n * (100 - p) / 100 >= min_beyond - 1e-9:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
