"""Unified detection API — one call, three engines.

``detect(df, keys, ts_col, value_col, method=...)``:

- ``"rules"`` — the window-based flags engine (detect/rules.py; the
  reference's SQL engine). 100% JVM, one shuffle.
- ``"stl"``   — per-series decomposition + IQR test (detect/stl.py;
  the reference's R engine), batched per partition.
- ``"shesd"`` — Seasonal Hybrid ESD (detect/sesd.py; the reference's
  archived Twitter-AnomalyDetection experiment).
- ``"hampel"`` / ``"cusum"`` / ``"robust_z"`` — the robust-statistics
  detectors (detect/robust.py), per-observation outputs.
- ``"holt"`` — Holt level+trend smoothing state (detect/robust.py),
  per-observation level/trend/forecast columns.

The first three return one row per series (or per anomalous
observation for ``shesd``); the robust family returns per-observation
rows — the same downstream enrichment/sinks apply to all.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame

from anomaly_detection_spark.config import DetectorConfig
from anomaly_detection_spark.detect.rules import rule_flags
from anomaly_detection_spark.detect.sesd import shesd_detect
from anomaly_detection_spark.detect.stl import stl_iqr_detect

METHODS = ("rules", "stl", "shesd", "hampel", "cusum", "robust_z", "holt")


def detect(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    method: str = "rules",
    cfg: Optional[DetectorConfig] = None,
    **kwargs,
) -> DataFrame:
    if method == "rules":
        return rule_flags(df, keys, ts_col, value_col, cfg, **kwargs)
    if method == "stl":
        return stl_iqr_detect(df, keys, ts_col, value_col, **kwargs)
    if method == "shesd":
        return shesd_detect(df, keys, ts_col, value_col, **kwargs)
    if method == "hampel":
        from anomaly_detection_spark.detect.robust import rolling_median_hampel
        return rolling_median_hampel(df, list(keys), [ts_col], value_col,
                                     **kwargs)
    if method == "cusum":
        from anomaly_detection_spark.detect.robust import cusum
        return cusum(df, list(keys), [ts_col], value_col, **kwargs)
    if method == "robust_z":
        from anomaly_detection_spark.detect.robust import robust_z
        return robust_z(df, list(keys), value_col, **kwargs)
    if method == "holt":
        from anomaly_detection_spark.detect.robust import holt_smoothing
        return holt_smoothing(df, list(keys), [ts_col], value_col, **kwargs)
    raise ValueError(f"unknown method {method!r}; expected one of {METHODS}")
