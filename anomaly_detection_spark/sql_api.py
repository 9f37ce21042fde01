"""SQL surface for the engine — the reference's native dialect.

The reference is SQL-first (``anomaly_proj_query.sql`` runs as one
BigQuery statement); its users speak SQL, not DataFrames.  This module
gives them the same surface on Spark:

- ``register_views(spark, sf_dir)`` — every fixture table as a temp
  view (through ``load_table``, so ns-timestamp normalization applies).
- ``rule_flags_sql(...)`` — the COMPLETE flags pipeline
  (``anomaly_proj_query.sql:17-228``) as one Spark SQL statement over
  a ``{fact}`` relation, with ``eval_ts``, ``data_periods`` and the
  thresholds as named parameters.  It is the very statement
  ``detect/rules.py:rule_flags`` runs (one builder,
  ``rules.flags_sql``, for both interval modes), projected to the
  reference's 17 output columns, so both surfaces return bit-identical
  rows (``tests/test_sql_api.py`` asserts it; the registered
  ``rule_flags_sql_port`` query shares the DataFrame engine's DuckDB
  oracle).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from anomaly_detection_spark.config import DetectorConfig
from anomaly_detection_spark.detect.rules import flags_sql
from anomaly_detection_spark.sources.tables import TABLES, load_table


def register_views(
    spark: SparkSession, sf_dir: str, tables: Sequence[str] = TABLES
) -> None:
    """Expose the engine tables as temp views for ad-hoc Spark SQL."""
    for name in tables:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)


# the SQL surface's projection: the keys, then these 16 columns
SQL_COLUMNS = (
    "date_recorded", "value", "previous_value", "previous_seven_period_avg",
    "absolute_one_period_difference", "average", "standard_deviation",
    "absolute_standard_deviations_from_avg", "standard_deviations_from_avg",
    "data_repetitions", "avg_days_bw_data", "days_since_last_update",
    "standard_deviation_flag", "data_repetitions_flag",
    "days_since_last_update_flag", "anomaly",
)


def rule_flags_sql(
    keys: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    cfg: Optional[DetectorConfig] = None,
    emit: str = "latest",
) -> tuple[str, dict]:
    """The one-statement flags pipeline and its named parameters.

    Run it as ``spark.sql(text, args=args, fact=<DataFrame>)``, e.g.
    ``fact=spark.table("events")``.
    """
    return flags_sql(keys, ts_col, value_col, cfg or DetectorConfig(), emit,
                     columns=SQL_COLUMNS)


def run_rule_flags_sql(
    spark: SparkSession,
    sf_dir: str,
    cfg: Optional[DetectorConfig] = None,
    emit: str = "latest",
) -> DataFrame:
    """``rule_flags_sql`` over the fixture's ``events`` table."""
    text, args = rule_flags_sql(cfg=cfg, emit=emit)
    return spark.sql(text, args=args, fact=load_table(spark, "events", sf_dir))
