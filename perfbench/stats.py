"""Order statistics the benchmark reports."""

from __future__ import annotations

import math

# A tail percentile is only reported where at least this many samples lie
# beyond it, so one slow outlier cannot set it.
TAIL_SAMPLES = 10
TAIL_CAP = 0.90


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (NumPy's default method), 0 <= q <= 1."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """Highest quantile, capped at p90, that leaves TAIL_SAMPLES samples
    above it; never below the median."""
    if n <= 0:
        raise ValueError("tail quantile of no samples")
    return max(0.5, min(TAIL_CAP, 1.0 - TAIL_SAMPLES / n))
