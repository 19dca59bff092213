"""Percentiles that refuse to extrapolate.

A percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it, so a tail figure is never one or two unlucky samples.  The
nearest-rank definition is used: the p-th percentile of ``n`` sorted
samples is sample ``ceil(p * n)`` (1-based), and ``n - ceil(p * n)``
samples lie beyond it.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

MIN_BEYOND = 10


def beyond(n: int, p: float) -> int:
    """Samples strictly beyond the nearest-rank p-th percentile of ``n``."""
    return n - max(1, math.ceil(p * n))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile; raises ``ValueError`` when fewer than
    ``MIN_BEYOND`` samples lie beyond it."""
    n = len(values)
    if n == 0 or beyond(n, p) < MIN_BEYOND:
        raise ValueError(f"p{p * 100:g} of {n} samples has "
                         f"{max(0, beyond(n, p)) if n else 0} beyond it, "
                         f"need {MIN_BEYOND}")
    return sorted(values)[max(1, math.ceil(p * n)) - 1]


def mean(values: Sequence[float]) -> float:
    """Mean for per-layer detail; 0 when the layer did no such work."""
    return sum(values) / len(values) if values else 0.0


def median(values: Sequence[float]) -> float:
    """Plain median of a run's repetitions (set-up times), where the
    percentile rule does not apply: the value is a central estimate over
    a handful of identical repetitions, not a latency distribution."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
