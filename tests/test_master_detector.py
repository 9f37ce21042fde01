"""master_anomaly_detector parity: exact output schema of the
reference's anomaly_df (verified from the saved workspace, SURVEY §1.2)
and correct dim enrichment."""

from __future__ import annotations

from anomaly_detection_spark.config import DetectorConfig
from anomaly_detection_spark.detect.master import master_anomaly_detector

from tests.ticker_fixture import (
    EVAL_TS, SPIKE_KEY, fixture_df, gran_dim_df, info_dim_df,
)

EXPECTED_COLUMNS = [
    "data_timestamp", "index", "region", "ticker_index", "anomaly",
    "value", "seven_day_avg", "score", "repetitions", "frequency",
    "alleged_freq", "granularity", "granularity_desc", "index_name",
    "ticker", "ticker_desc", "display_unit_type", "documentation_url",
]


SQL_ENGINE_COLUMNS = [
    "anomaly", "standard_deviation_flag", "data_repetitions_flag",
    "days_since_last_update_flag", "value", "previous_value",
    "previous_seven_period_avg", "absolute_one_period_difference",
    "average", "standard_deviation", "absolute_standard_deviations_from_avg",
    "standard_deviations_from_avg", "data_repetitions", "date_recorded",
    "run_date", "ticker", "granularity", "ticker_info", "ticker_code",
    "granularity_code", "data_pull_frequency", "avg_days_bw_data",
    "days_since_last_update", "unit_type", "index_id", "granularity_id",
]


def test_sql_engine_facade_schema_and_order(spark):
    from anomaly_detection_spark.detect.master import master_rule_flags
    out = master_rule_flags(
        fixture_df(spark), gran_dim_df(spark), info_dim_df(spark),
        DetectorConfig(eval_ts=EVAL_TS), emit="latest",
    )
    assert out.columns == SQL_ENGINE_COLUMNS
    rows = out.collect()
    assert len(rows) > 0
    # worst anomalies first (ref ORDER BY :223-226)
    zs = [r.absolute_standard_deviations_from_avg for r in rows]
    assert zs == sorted(zs, reverse=True)
    # the spike series tops the list
    assert (rows[0].index_id, rows[0].granularity_id) == SPIKE_KEY
    assert rows[0].anomaly == 1
    assert rows[0].ticker == f"Index {SPIKE_KEY[0]} Price"


def _executions_after(store, last_id: int) -> list[int]:
    """Ids of the SQL executions newer than ``last_id``, newest first.
    The store keeps only the most recent executions, in id order."""
    execs = store.executionsList()
    ids = []
    for i in reversed(range(execs.size())):
        eid = execs.apply(i).executionId()
        if eid <= last_id:
            break
        ids.append(eid)
    return ids


def _hash_exchange_records(spark, execution_id: int) -> list[tuple[int, int]]:
    """(shuffle records written, records read) of every hash Exchange
    in one finished SQL execution, from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    values = store.executionMetrics(execution_id)
    nodes = store.planGraph(execution_id).allNodes()
    out = []
    for node in (nodes.apply(i) for i in range(nodes.size())):
        if not node.desc().startswith("Exchange hashpartitioning"):
            continue
        ms = node.metrics()
        ids = {ms.apply(j).name(): ms.apply(j).accumulatorId()
               for j in range(ms.size())}

        def count(name):
            v = values.get(ids[name])
            return int(v.get().replace(",", "")) if v.isDefined() else 0

        out.append((count("shuffle records written"), count("records read")))
    return out


def test_sql_engine_window_stage_runs_once(spark):
    """The worst-first ORDER BY's range partitioner samples its input
    before its shuffle map runs.  Directly over the Window stage, that
    ran the windows twice per action; over the shuffle boundary in
    master_rule_flags, both read a materialized shuffle.  The Window
    stage is the one reader of the series-key hash exchange, so that
    exchange must be read exactly once."""
    from anomaly_detection_spark.detect.master import master_rule_flags
    out = master_rule_flags(
        fixture_df(spark), gran_dim_df(spark), info_dim_df(spark),
        DetectorConfig(eval_ts="2024-02-29 00:00:00"), emit="eval_date",
    )
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    before = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
    out.write.format("noop").mode("overwrite").save()
    # the status store is fed by the listener bus: let it catch up
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    writes = _executions_after(store, before)
    assert len(writes) == 1, writes
    records = _hash_exchange_records(spark, writes[0])
    assert len(records) == 1, records
    written, read = records[0]
    assert written > 0 and read == written, (
        f"hash exchange wrote {written} rows but {read} were read — "
        "the Window stage ran more than once"
    )


def test_output_schema_matches_reference(spark):
    out = master_anomaly_detector(
        fixture_df(spark), gran_dim_df(spark), info_dim_df(spark),
        DetectorConfig(eval_ts=EVAL_TS),
    )
    assert out.columns == EXPECTED_COLUMNS


def test_enrichment_and_detection(spark):
    out = master_anomaly_detector(
        fixture_df(spark), gran_dim_df(spark), info_dim_df(spark),
        DetectorConfig(eval_ts=EVAL_TS),
    ).collect()
    # r["index"] not r.index: Row.index is the namedtuple method
    rows = {(r["index"], r["region"]): r for r in out}
    spike = rows[SPIKE_KEY]
    assert spike.anomaly == "Yes"
    assert spike.ticker_index == f"{SPIKE_KEY[0]}_{SPIKE_KEY[1]}"
    assert spike.granularity == f"G{SPIKE_KEY[1]}"
    assert spike.granularity_desc == f"City {SPIKE_KEY[1]}, ST"
    assert spike.index_name == f"Index {SPIKE_KEY[0]} Price"
    assert spike.ticker == f"TCK{SPIKE_KEY[0]}"
    assert spike.alleged_freq == "daily"
    # measured frequency: daily cadence → 1.0 day
    assert abs(spike.frequency - 1.0) < 1e-9


def test_detect_facade_dispatches_all_methods(spark, sf_dir):
    from anomaly_detection_spark.detect.api import METHODS, detect
    from anomaly_detection_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir).limit(2000)
    expected_cols = {
        "rules": "absolute_standard_deviations_from_avg",
        "stl": "score",
        "shesd": "residual",
        "hampel": "hampel_outlier",
        "cusum": "shift_flag",
        "robust_z": "robust_flag",
        "holt": "forecast",
    }
    assert set(expected_cols) == set(METHODS)
    for method, col in expected_cols.items():
        out = detect(ev, ["user_id"], "ts", "value", method=method)
        assert col in out.columns, method
        assert out.count() >= 0, method
