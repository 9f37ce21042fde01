"""Decomposition-based anomaly engine — the Spark-native port of the
reference's R engine (``func.R:84-157``: tibbletime/anomalize
``time_decompose → anomalize(remainder) → time_recompose`` + scoring).

The reference runs a **serial** per-ticker loop in one R process
(``func.R:131-133`` — its own "TODO: optimize time" bottleneck). Here
``map_series`` makes one Python call per partition (``mapInPandas``
over rows hash-partitioned by key and sorted by key and time): it cuts
each Arrow batch into series, buckets them by length and decomposes
each bucket with one call of the batched LOESS kernel
(``loess_stl.stl_periodic_batch``) — no pandas frame per series.  The
kernel reduces only along each row's own series axis, so a series
scores bit-identically whether it is batched alone or with hundreds of
others (``tests/test_stl_batch.py`` pins the batched path against the
per-series ``decompose`` + ``iqr_anomalize`` loop).

Anomaly test: the anomalize package's IQR method (its default):
limits ``q25 − k·IQR`` / ``q75 + k·IQR`` with ``k = 0.15/alpha``
(alpha=0.05 → 3×IQR), flagged fraction capped at ``max_anoms``
(ranked by distance outside the limits). Score per ``func.R:99-102``:
``buffer_zero=(l1+l2)/2; buffer_radius=|l2−buffer_zero|;
score=|remainder−buffer_zero|/buffer_radius``.

Reference quirks (``reference_quirks=True`` reproduces them,
default normalizes — SURVEY.md §7.3):
- ``seven_day_avg`` actually averages the trailing **8** points
  (``func.R:107``); normalized: trailing 7.
- ``repetitions`` counts the prior **9** values equal to the final
  value (``func.R:110``, R operator-precedence accident); normalized:
  prior 7.
- ``frequency`` reads a global variable instead of the group's frame
  (``func.R:111`` — a genuine bug); always fixed here: the group's own
  last sampling gap in days.
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from anomaly_detection_spark.detect.loess_stl import stl_periodic_batch

ALPHA_DEFAULT = 0.05
MAX_ANOMS_DEFAULT = 0.2
SECONDS_PER_DAY = 86400.0


def _moving_average_trend(values: np.ndarray, period: int) -> np.ndarray:
    """Centered moving-average trend (classical decomposition).

    Even periods use the standard half-weight endpoints (2×period MA).
    Edges are extended with the nearest interior estimate.
    """
    n = len(values)
    if period % 2 == 0:
        kernel = np.ones(period + 1)
        kernel[0] = kernel[-1] = 0.5
        kernel /= period
    else:
        kernel = np.ones(period) / period
    half = len(kernel) // 2
    if n < len(kernel):
        return np.full(n, np.median(values))
    core = np.convolve(values, kernel, mode="valid")
    trend = np.empty(n)
    trend[half:n - half] = core
    trend[:half] = core[0]
    trend[n - half:] = core[-1]
    return trend


def decompose_rows(values: np.ndarray, period: int = 7, robust: bool = True
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """observed → (season, trend, remainder), additive, for each row of
    an m×n array of equal-length series.

    The vendored LOESS STL, batched over all rows, when the series is
    long enough (≥ 2 full periods, the same constraint the reference
    hits — SURVEY.md §7.6.3; fidelity pinned by
    tests/test_stl_fidelity.py); a trend-only moving average otherwise.
    """
    values = np.asarray(values, dtype=np.float64)
    n = values.shape[1]
    if n < 2 * period:
        # too short for seasonal estimation — trend-only fallback
        width = min(period, max(1, n // 2))
        trend = np.stack([_moving_average_trend(v, width) for v in values])
        return np.zeros_like(values), trend, values - trend
    return stl_periodic_batch(values, period=period, robust=robust)


def decompose(values: np.ndarray, period: int = 7,
              robust: bool = True) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``decompose_rows`` of one series."""
    parts = decompose_rows(np.asarray(values, dtype=np.float64)[None],
                           period=period, robust=robust)
    return tuple(p[0] for p in parts)


def iqr_anomalize(remainder: np.ndarray, alpha: float = ALPHA_DEFAULT,
                  max_anoms: float = MAX_ANOMS_DEFAULT
                  ) -> tuple[np.ndarray, float, float]:
    """anomalize-style IQR test → (is_anomaly bool array, l1, l2)."""
    q25, q75 = np.percentile(remainder, [25.0, 75.0])
    iqr = q75 - q25
    k = 0.15 / alpha
    l1, l2 = q25 - k * iqr, q75 + k * iqr
    outside = (remainder < l1) | (remainder > l2)
    cap = int(np.floor(max_anoms * len(remainder)))
    if outside.sum() > cap:
        # keep only the `cap` most extreme (distance outside the band)
        dist = np.maximum(l1 - remainder, remainder - l2)
        keep = np.argsort(-dist)[:cap]
        capped = np.zeros_like(outside)
        capped[keep] = True
        outside = capped
    return outside, float(l1), float(l2)


def _score(remainder: np.ndarray, l1: float, l2: float) -> np.ndarray:
    buffer_zero = (l1 + l2) / 2.0
    buffer_radius = abs(l2 - buffer_zero)
    if buffer_radius == 0:
        return np.where(remainder == buffer_zero, 0.0, np.inf)
    return np.abs(remainder - buffer_zero) / buffer_radius


def iqr_score_rows(remainder: np.ndarray, alpha: float = ALPHA_DEFAULT,
                   max_anoms: float = MAX_ANOMS_DEFAULT
                   ) -> tuple[np.ndarray, np.ndarray]:
    """``iqr_anomalize`` + ``_score`` on each row of an m×n remainder
    → (anomaly flags, scores), both m×n."""
    flags = np.empty(remainder.shape, dtype=bool)
    scores = np.empty(remainder.shape)
    for r, row in enumerate(remainder):
        flags[r], l1, l2 = iqr_anomalize(row, alpha=alpha, max_anoms=max_anoms)
        scores[r] = _score(row, l1, l2)
    return flags, scores


def summarize_rows(ts: np.ndarray, vals: np.ndarray, period: int = 7,
                   alpha: float = ALPHA_DEFAULT,
                   max_anoms: float = MAX_ANOMS_DEFAULT,
                   reference_quirks: bool = False) -> dict[str, np.ndarray]:
    """The detector's summary of m equal-length series, the rows of
    the m×n ``ts`` / ``vals`` arrays → output column → m values."""
    m, n = vals.shape
    rep_window, avg_tail = (9, 8) if reference_quirks else (7, 7)
    _season, _trend, remainder = decompose_rows(vals, period=period)
    flags, scores = iqr_score_rows(remainder, alpha=alpha, max_anoms=max_anoms)
    last = vals[:, -1]
    gap_us = (ts[:, -1] - ts[:, -2]).astype("timedelta64[us]").astype(np.int64) \
        if n >= 2 else np.full(m, np.nan)
    return {
        "data_timestamp": ts[:, -1],
        "value": last,
        "seven_day_avg": vals[:, -avg_tail:].mean(axis=1),
        "score": scores[:, -1],
        "anomaly": np.where(flags[:, -1], "Yes", "No"),
        "repetitions": (vals[:, max(0, n - 1 - rep_window):n - 1]
                        == last[:, None]).sum(axis=1),
        "frequency": gap_us / 1e6 / SECONDS_PER_DAY,
    }


def _series_starts(key_arrays: list[np.ndarray]) -> np.ndarray:
    """Row offsets where a new series starts in key-sorted rows (nulls
    compare equal, as in ``groupBy``)."""
    new = np.zeros(len(key_arrays[0]), dtype=bool)
    new[:1] = True
    for a in key_arrays:
        na = pd.isna(a)
        new[1:] |= (a[1:] != a[:-1]) & ~(na[1:] & na[:-1])
    return np.flatnonzero(new)


def map_series(
    fact: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    fn: Callable[[dict, np.ndarray, np.ndarray], Optional[pd.DataFrame]],
    schema: str,
) -> DataFrame:
    """Run ``fn(head, ts, values)`` over every series (rows sharing
    ``keys``, in ``ts_col`` order) with one Python call per partition.

    ``fn`` gets the m series of one length in an Arrow batch at once —
    ``head`` maps each key to its m values, ``ts`` and ``values``
    (float64) are m×n — and returns a ``schema`` frame or None.  Rows
    arrive sorted by (keys, time), so only a batch's last series can
    continue in the next one: it is carried over, and memory stays at
    one batch plus one series."""
    keys = list(keys)
    cols = [*keys, ts_col, value_col]

    def buckets(arrays: list[np.ndarray], starts: np.ndarray):
        lengths = np.diff(np.append(starts, len(arrays[0])))
        frames = []
        for n in np.unique(lengths):
            first = starts[lengths == n]
            rows = first[:, None] + np.arange(n)
            out = fn({k: a[first] for k, a in zip(keys, arrays)},
                     arrays[-2][rows], arrays[-1][rows])
            if out is not None:
                frames.append(out)
        if frames:
            yield pd.concat(frames, ignore_index=True)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None
        for pdf in batches:
            arrays = [pdf[c].to_numpy() for c in cols[:-1]]
            arrays.append(pdf[value_col].to_numpy(dtype=np.float64))
            if carry is not None:
                arrays = [np.concatenate(pair) for pair in zip(carry, arrays)]
            if len(arrays[0]):
                starts = _series_starts(arrays[:len(keys)])
                carry = [a[starts[-1]:] for a in arrays]
                yield from buckets([a[:starts[-1]] for a in arrays], starts[:-1])
        if carry is not None:
            yield from buckets(carry, np.zeros(1, dtype=np.int64))

    # project before the map (mapInPandas ships every column through
    # Arrow) and pin the shuffle width: AQE would coalesce the now-tiny
    # shuffle to ~1 partition by BYTE size, serializing the Python
    # compute — an explicit repartition keeps the stage wide
    slim = fact.select(*cols).repartition(
        fact.sparkSession.sparkContext.defaultParallelism, *keys
    ).sortWithinPartitions(*keys, ts_col)
    return slim.mapInPandas(run, schema=schema)


def stl_iqr_detect(
    fact: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    period: int = 7,
    alpha: float = ALPHA_DEFAULT,
    max_anoms: float = MAX_ANOMS_DEFAULT,
    reference_quirks: bool = False,
    min_points: Optional[int] = None,
) -> DataFrame:
    """One summary row per series (the reference's ``detect_anomaly``).

    Output: keys…, ``data_timestamp`` (last obs), ``value``,
    ``seven_day_avg``, ``score``, ``anomaly`` ("Yes"/"No"),
    ``repetitions``, ``frequency`` (last sampling gap, days).
    """
    keys = list(keys)
    min_pts = min_points if min_points is not None else 2
    key_fields = ", ".join(
        f"{k} {fact.schema[k].dataType.simpleString()}" for k in keys
    )
    out_schema = (
        f"{key_fields}, data_timestamp timestamp, value double, "
        "seven_day_avg double, score double, anomaly string, "
        "repetitions long, frequency double"
    )

    def detect(head: dict, ts: np.ndarray, vals: np.ndarray):
        if vals.shape[1] < min_pts:
            return None
        return pd.DataFrame({**head, **summarize_rows(
            ts, vals, period, alpha, max_anoms, reference_quirks)})

    return map_series(fact, keys, ts_col, value_col, detect, out_schema)
