"""SQL surface ⇔ DataFrame engine parity.

Both surfaces run the one statement ``detect/rules.py:flags_sql``
renders; these tests pin the SQL surface's 17-column projection and
its bound parameters against ``rule_flags`` across emit modes and both
interval modes, and the identifier quoting.
"""

from __future__ import annotations

import pytest
from pyspark.errors import DateTimeException

from anomaly_detection_spark.config import DetectorConfig
from anomaly_detection_spark.detect.rules import rule_flags
from anomaly_detection_spark.sources.tables import load_table
from anomaly_detection_spark.sql_api import register_views, run_rule_flags_sql

EVAL_TS = "2024-02-01 00:00:00"

COLS = [
    "user_id", "date_recorded", "value", "previous_value",
    "previous_seven_period_avg", "absolute_one_period_difference", "average",
    "standard_deviation", "absolute_standard_deviations_from_avg",
    "standard_deviations_from_avg", "data_repetitions", "avg_days_bw_data",
    "days_since_last_update", "standard_deviation_flag",
    "data_repetitions_flag", "days_since_last_update_flag", "anomaly",
]


def _rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def test_sql_port_matches_dataframe_engine(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    # the newest observation, so emit="eval_date" compares rows, not
    # two empty sets
    last_ts = ev.selectExpr("CAST(max(ts) AS STRING) AS t").first().t
    for bq in (False, True):
        for emit, ts in (("latest", EVAL_TS), ("all", EVAL_TS),
                         ("eval_date", last_ts)):
            cfg = DetectorConfig(eval_ts=ts, bq_compat_intervals=bq)
            df_engine = rule_flags(ev, ["user_id"], "ts", "value", cfg, emit=emit)
            sql_engine = run_rule_flags_sql(spark, sf_dir, cfg=cfg, emit=emit)
            assert sql_engine.columns == COLS
            rows = _rows(df_engine)
            assert rows and rows == _rows(sql_engine), f"emit={emit} bq={bq}"


@pytest.mark.parametrize("bad", [
    "2024-02-01' OR '1'='1",
    "2024-02-01 00:00:00'--",
])
def test_malformed_eval_ts_is_bound_not_spliced(spark, sf_dir, bad):
    """eval_ts is a bound parameter: a quote in it cannot change the
    statement, it only fails the cast — the same error on both
    surfaces."""
    cfg = DetectorConfig(eval_ts=bad)
    ev = load_table(spark, "events", sf_dir)
    for build in (
        lambda: rule_flags(ev, ["user_id"], "ts", "value", cfg, emit="eval_date"),
        lambda: run_rule_flags_sql(spark, sf_dir, cfg=cfg, emit="eval_date"),
    ):
        with pytest.raises(DateTimeException, match="CAST_INVALID_INPUT"):
            build().collect()


def test_identifiers_are_quoted(spark, sf_dir):
    """Column names are rendered backtick-quoted, braces doubled for
    the ``str.format`` pass: odd names give the same rows."""
    cfg = DetectorConfig(eval_ts=EVAL_TS)
    ev = load_table(spark, "events", sf_dir)
    odd = ev.select(
        ev.user_id.alias("user id"), ev.ts.alias("t{s}"),
        ev.value.alias("va`lue"),
    )
    got = rule_flags(odd, ["user id"], "t{s}", "va`lue", cfg, emit="all")
    want = rule_flags(ev, ["user_id"], "ts", "value", cfg, emit="all")
    assert got.columns == ["user id"] + want.columns[1:]
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, want.collect()), key=repr)


def test_register_views_ad_hoc_sql(spark, sf_dir):
    register_views(spark, sf_dir, tables=("events", "documents"))
    n = spark.sql(
        "SELECT count(DISTINCT user_id) AS u FROM events"
    ).first().u
    assert n > 0
    joined = spark.sql("""
        SELECT lang, count(*) AS n FROM documents GROUP BY lang
    """)
    assert joined.count() >= 1
