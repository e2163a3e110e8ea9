"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

import numpy as np

TAIL_GRID = (99, 95, 90, 80, 75, 70, 60, 50)
_GRID = 20_000


def tail_pct(n: int) -> int:
    """The highest percentile in ``TAIL_GRID`` that leaves at least ten of
    ``n`` samples beyond it; 50 when ``n`` is too small for any tail."""
    for p in TAIL_GRID:
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


def percentile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-th percentile: the average of
    all order statistics weighted by a Beta((n+1)q, (n+1)(1-q)) density.
    Unlike a single order statistic it moves smoothly when samples near
    the percentile swap rank, as ops of similar cost do from run to run."""
    s = np.sort(np.asarray(values, dtype=float))
    n = len(s)
    if n == 1:
        return float(s[0])
    q = p / 100
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    # the Beta CDF at i/n by midpoint integration of the density
    t = (np.arange(_GRID) + 0.5) / _GRID
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.cumsum(np.exp(log_pdf - log_pdf.max()))
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf, left=0.0, right=1.0))
    return float(w @ s)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
