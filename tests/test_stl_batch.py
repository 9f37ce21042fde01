"""The partition-batched STL+IQR engine against its per-series reference.

1. ``stl_periodic_batch`` decomposes each row exactly as the 1-D
   ``stl_periodic`` does (``np.array_equal``, not a tolerance), whatever
   else shares the batch: constant rows (zero MAD), spikes, rows that
   converge early next to rows that use every robustness pass.
2. ``stl_iqr_detect`` with Arrow batches of 7 rows — so series straddle
   batches and exercise the carry-over — equals an in-process
   per-series ``decompose`` + ``iqr_anomalize`` loop on every column.
3. ``master_anomaly_detector`` keeps one shuffle and runs the detector
   as one ``MapInPandas`` per partition, not a grouped map.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.detect.loess_stl import (
    stl_periodic, stl_periodic_batch,
)
from anomaly_detection_spark.detect.stl import (
    SECONDS_PER_DAY, _score, decompose, iqr_anomalize, stl_iqr_detect,
)

PERIOD = 7


def _early_and_late_rows(n: int) -> tuple[np.ndarray, np.ndarray]:
    """A row whose robust fit converges at outer pass 2 and one that
    runs all 5 passes (both checked below, not assumed)."""
    t = np.arange(n)
    early = 10.0 + np.array([2.0, 1, 0, -1, -2, 1, -1])[t % PERIOD]
    late = 5.0 + 0.1 * t + np.random.default_rng(3).normal(0.0, 1.0, n)
    late[n // 2] += 25.0
    return early, late


def _mixed_batch(n: int, rng: np.random.Generator) -> np.ndarray:
    early, late = _early_and_late_rows(n)
    spike = rng.normal(10.0, 1.0, n)
    spike[n // 3] += 40.0
    rows = [rng.normal(0.0, 1.0, n) + 0.2 * np.arange(n) for _ in range(5)]
    return np.vstack(rows + [np.full(n, 3.25), spike, early, late])


@pytest.mark.parametrize("n", [5, 11, 13, 14, 28, 35])
def test_batch_kernel_is_bit_identical_per_row(n):
    rng = np.random.default_rng(n)
    batch = _mixed_batch(n, rng)
    got = stl_periodic_batch(batch, period=PERIOD)
    for r, row in enumerate(batch):
        for part_b, part_1 in zip(got, stl_periodic(row, period=PERIOD)):
            assert np.array_equal(part_b[r], part_1), (n, r)
    # batch composition must not matter: a shuffled sub-batch agrees too
    pick = rng.permutation(len(batch))[:4]
    for part_b, part_s in zip(got, stl_periodic_batch(batch[pick], period=PERIOD)):
        assert np.array_equal(part_b[pick], part_s)
    # the constant row (zero MAD) leaves no remainder beyond rounding
    assert np.allclose(got[2][5], 0.0, atol=1e-12)


def test_mixed_batch_holds_early_and_late_converging_rows():
    n = 28
    early, late = _early_and_late_rows(n)

    def fit(row, n_outer):
        return stl_periodic(row, period=PERIOD, n_outer=n_outer)

    assert all(np.array_equal(a, b) for a, b in zip(fit(early, 2), fit(early, 5)))
    assert not all(np.array_equal(a, b) for a, b in zip(fit(late, 4), fit(late, 5)))


def _reference_detect(us: np.ndarray, vals: np.ndarray, quirks: bool) -> dict:
    """The former per-group detector body, series by series."""
    rep_window, avg_tail = (9, 8) if quirks else (7, 7)
    n = len(vals)
    _s, _t, remainder = decompose(vals, period=PERIOD)
    is_anom, l1, l2 = iqr_anomalize(remainder)
    ts = pd.to_datetime(us, unit="us")
    last = vals[-1]
    return {
        "ts_us": int(us[-1]),
        "value": float(last),
        "seven_day_avg": float(vals[-avg_tail:].mean()),
        "score": float(_score(remainder, l1, l2)[-1]),
        "anomaly": "Yes" if bool(is_anom[-1]) else "No",
        "repetitions": int((vals[max(0, n - 1 - rep_window):n - 1] == last).sum()),
        "frequency": ((ts[-1] - ts[-2]).total_seconds() / SECONDS_PER_DAY
                      if n >= 2 else float("nan")),
    }


@pytest.mark.parametrize("quirks,min_points", [(False, None), (True, 1)])
def test_detect_across_straddling_arrow_batches_matches_per_series(
        spark, quirks, min_points):
    rng = np.random.default_rng(17)
    lengths = [1, 2, 5, 9, 13, 14, 20, 28, 28, 28, 35, 40]
    rows, series = [], {}
    for k, n in enumerate(lengths):
        # uneven micro-second gaps; inserted out of time order
        us = 1_700_000_000_000_000 + np.cumsum(
            rng.integers(3_600_000_000, 200_000_000_000, n))
        vals = np.round(rng.normal(50.0, 5.0, n), 3)
        if n >= 9:
            vals[-1] = vals[-2] = vals[-4]           # repetitions
        if k % 3 == 0 and n > 3:
            vals[-1] += 60.0                         # newest point spikes
        if k == 9:
            vals[:] = 7.5                            # constant: zero IQR
        series[k] = (us, vals)
        rows += [(k, int(u), float(v)) for u, v in zip(us, vals)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, us long, v double").select(
        "k", F.timestamp_micros("us").alias("ts"), "v")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        out = stl_iqr_detect(df, ["k"], "ts", "v", reference_quirks=quirks,
                             min_points=min_points)
        assert out.columns == ["k", "data_timestamp", "value", "seven_day_avg",
                               "score", "anomaly", "repetitions", "frequency"]
        got = out.withColumn("ts_us", F.unix_micros("data_timestamp")).toPandas()
    finally:
        spark.conf.set(key, old)

    floor = 2 if min_points is None else min_points
    want = {k: _reference_detect(us, v, quirks)
            for k, (us, v) in series.items() if len(v) >= floor}
    assert sorted(got["k"]) == sorted(want)
    for rec in got.to_dict("records"):
        exp = want[rec["k"]]
        for col, val in exp.items():
            assert np.array_equal(rec[col], val, equal_nan=isinstance(val, float)), (
                rec["k"], col, rec[col], val)


def test_master_detector_plan_is_one_exchange_and_a_partition_map(spark):
    from anomaly_detection_spark.config import DetectorConfig
    from anomaly_detection_spark.detect.master import master_anomaly_detector
    from tests.ticker_fixture import EVAL_TS, fixture_df, gran_dim_df, info_dim_df

    out = master_anomaly_detector(
        fixture_df(spark), gran_dim_df(spark), info_dim_df(spark),
        DetectorConfig(eval_ts=EVAL_TS),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange " in ln and "BroadcastExchange" not in ln]
    assert len(shuffles) == 1, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
