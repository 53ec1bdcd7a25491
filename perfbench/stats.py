"""Order statistics used by every workload.

Percentiles are Harrell–Davis estimates: a weighted mean of all sorted
samples, with weights from the Beta((n + 1) q, (n + 1)(1 - q)) distribution.
A browse phase mixes routes whose latencies sit in clusters hundreds of
milliseconds apart, and a single order statistic of a few dozen such
samples jumps between clusters from run to run; this estimator moves
smoothly instead.
"""

from __future__ import annotations

import math

import numpy as np

_GRID = 20_000  # midpoints for integrating the Beta density


def percentile(values: list[float], q: float) -> float:
    """Harrell–Davis estimate of percentile ``q`` in [0, 100]; 0.0 when
    empty."""
    if not values:
        return 0.0
    s = np.sort(np.asarray(values, dtype=float))
    n, p = len(s), q / 100.0
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    if n == 1 or b <= 0:
        return float(s[-1])
    if a <= 0:
        return float(s[0])
    # Beta(a, b) mass of ((i - 1)/n, i/n] for every sample i
    x = (np.arange(_GRID) + 0.5) / _GRID
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    density = np.exp(log_norm + (a - 1) * np.log(x) + (b - 1) * np.log1p(-x))
    weights = np.bincount(np.minimum((x * n).astype(int), n - 1), density, minlength=n)
    return float(weights @ s / weights.sum())


def median(values: list[float]) -> float:
    return percentile(values, 50)
