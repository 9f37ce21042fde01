"""Seasonal Hybrid ESD (S-H-ESD) detector — the reference's archived
Twitter-AnomalyDetection experiment (``archive/dev2.R:7``,
``AnomalyDetectionTs(max_anoms=0.02, direction='both')``) as a
first-class alternative engine.

Published algorithm (Hochenbaum, Vallis & Kejariwal 2017,
arXiv:1704.07706): seasonal decomposition → residual = x − seasonal −
median(x) → generalized ESD test (Rosner 1983) with robust location
(median) and scale (MAD).

The container has no scipy, so the Student-t quantile needed by GESD's
critical values is computed from first principles: regularized
incomplete beta via the standard continued-fraction expansion
(Abramowitz & Stegun 26.5.8 / Lentz's method) and bisection for the
inverse. Accuracy ~1e-10, plenty for critical-value thresholds.

Spark-side: the STL engine's ``map_series`` — one Python call per
partition, series of one length decomposed in one batched call.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from anomaly_detection_spark.detect.stl import decompose_rows, map_series


# --- Student-t quantile, pure python/numpy ---------------------------------

def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta (modified Lentz)."""
    MAXIT, EPS, FPMIN = 200, 3e-14, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < FPMIN:
        d = FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, MAXIT + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < EPS:
            break
    return h


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log(1.0 - x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def t_cdf(t: float, df: float) -> float:
    """Student-t CDF."""
    if df <= 0:
        raise ValueError("df must be positive")
    x = df / (df + t * t)
    p = 0.5 * _betainc(df / 2.0, 0.5, x)
    return 1.0 - p if t > 0 else p


from functools import lru_cache


@lru_cache(maxsize=65536)
def t_ppf(p: float, df: float) -> float:
    """Student-t quantile by bisection on the CDF (monotone, robust).

    Memoized: GESD evaluates the same (p, df) for every same-length
    series, so across thousands of groups on one worker the cache
    turns the quantile into a dict lookup."""
    if not 0.0 < p < 1.0:
        raise ValueError("p must be in (0, 1)")
    if p == 0.5:
        return 0.0
    lo, hi = -1e3, 1e3
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if t_cdf(mid, df) < p:
            lo = mid
        else:
            hi = mid
        if hi - lo < 1e-12 * max(1.0, abs(mid)):
            break
    return 0.5 * (lo + hi)


# --- Generalized ESD (Rosner 1983) -----------------------------------------

def gesd_outliers(x: np.ndarray, max_outliers: int, alpha: float = 0.05,
                  robust: bool = True, direction: str = "both") -> np.ndarray:
    """Indices of outliers per the generalized ESD test.

    ``robust=True`` uses median/MAD (the S-H-ESD hybridization);
    ``direction`` restricts to positive/negative deviations.
    """
    n = len(x)
    if n < 3 or max_outliers < 1:
        return np.array([], dtype=int)
    work = x.astype(float).copy()
    alive = np.arange(n)
    removed: list[int] = []
    n_signif = 0
    for i in range(1, max_outliers + 1):
        m = len(work)
        if m < 3:
            break
        if robust:
            loc = float(np.median(work))
            scale = float(np.median(np.abs(work - loc))) * 1.4826
        else:
            loc = float(work.mean())
            scale = float(work.std(ddof=1))
        if scale == 0:
            break
        dev = work - loc
        if direction == "pos":
            dev = np.where(dev > 0, dev, 0.0)
        elif direction == "neg":
            dev = np.where(dev < 0, -dev, 0.0)
        else:
            dev = np.abs(dev)
        j = int(np.argmax(dev))
        R = dev[j] / scale
        p = 1.0 - alpha / (2.0 * (n - i + 1))
        t = t_ppf(p, n - i - 1)
        lam = (n - i) * t / math.sqrt((n - i - 1 + t * t) * (n - i + 1))
        removed.append(alive[j])
        if R > lam:
            n_signif = i
        work = np.delete(work, j)
        alive = np.delete(alive, j)
    return np.array(removed[:n_signif], dtype=int)


def shesd_detect(
    fact: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    period: int = 7,
    max_anoms: float = 0.02,
    alpha: float = 0.05,
    direction: str = "both",
) -> DataFrame:
    """Per-series S-H-ESD: one output row per detected anomalous
    observation (keys…, data_timestamp, value, residual)."""
    keys = list(keys)
    key_fields = ", ".join(
        f"{k} {fact.schema[k].dataType.simpleString()}" for k in keys
    )
    out_schema = (
        f"{key_fields}, data_timestamp timestamp_ntz, value double, "
        "residual double"
    )

    def detect(head: dict, ts: np.ndarray, vals: np.ndarray):
        m, n = vals.shape
        if n < 2 * period:
            return None
        season, _trend, _rem = decompose_rows(vals, period=period)
        # S-H-ESD residual: x - seasonal - median(x) (NOT the trend —
        # per the paper, median replaces trend for robustness)
        resid = vals - season - np.median(vals, axis=1, keepdims=True)
        k = max(1, int(math.floor(max_anoms * n)))
        hits = [(r, j) for r in range(m) for j in
                gesd_outliers(resid[r], k, alpha=alpha, direction=direction)]
        if not hits:
            return None
        r, j = np.array(hits).T
        return pd.DataFrame({**{kk: v[r] for kk, v in head.items()},
                             "data_timestamp": ts[r, j], "value": vals[r, j],
                             "residual": resid[r, j]})

    return map_series(fact, keys, ts_col, value_col, detect, out_schema)
