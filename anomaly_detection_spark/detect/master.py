"""``master_anomaly_detector`` — the reference R engine's top-level
driver (``func.R:122-157``) rebuilt Spark-first.

Reference flow: distinct ticker list → SERIAL per-ticker
``detect_anomaly`` loop → rbind → split ``ticker_index`` back into
(index, region) → two left merges to the dim tables → 18-column
projection with renames (columns confirmed from the saved workspace,
SURVEY.md §1.2).

Here the serial loop is one shuffle plus one ``mapInPandas`` pass that
scores each partition's series with one batched LOESS call per series
length (``detect/stl.py``; bit-identical to scoring them one by one),
and the merges are broadcast left joins. Output column order and names
match the reference's ``anomaly_df`` exactly:

data_timestamp, index, region, ticker_index, anomaly, value,
seven_day_avg, score, repetitions, frequency, alleged_freq,
granularity, granularity_desc, index_name, ticker, ticker_desc,
display_unit_type, documentation_url
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.config import DetectorConfig
from anomaly_detection_spark.detect.stl import stl_iqr_detect
from anomaly_detection_spark.operators.keys import concat_key


def master_rule_flags(
    ticker_data: DataFrame,
    ticker_gran: DataFrame,
    ticker_info: DataFrame,
    cfg: Optional[DetectorConfig] = None,
    emit: str = "eval_date",
) -> DataFrame:
    """The SQL engine's complete final select
    (``anomaly_proj_query.sql:148-228``): flags pipeline + both dim
    joins + the 26-column projection, ordered worst-anomaly-first.

    A reference user's daily job maps 1:1 onto this call.
    """
    from anomaly_detection_spark.detect.rules import rule_flags

    cfg = cfg or DetectorConfig()
    flags = rule_flags(
        ticker_data, ["index_id", "granularity_item_id"],
        "data_timestamp", "data_value", cfg, emit=emit,
    )
    gran = F.broadcast(
        ticker_gran.select(
            F.col("id").alias("_gran_id"),
            F.col("Description").alias("granularity"),
            F.col("granularity1").alias("granularity_code"),
        )
    )
    info = F.broadcast(
        ticker_info.select(
            F.col("id").alias("_info_id"),
            F.col("index_name").alias("ticker"),
            F.col("description").alias("ticker_info"),
            F.col("ticker").alias("ticker_code"),
            F.col("frequency").alias("data_pull_frequency"),
            "unit_type",
        )
    )
    out = (
        flags.join(gran, flags["granularity_item_id"] == F.col("_gran_id"), "inner")
        .join(info, flags["index_id"] == F.col("_info_id"), "inner")
    )
    run_date = (
        F.lit(cfg.eval_ts).cast("timestamp_ntz").cast("date")
        if cfg.eval_ts else F.current_date()
    )
    return out.select(
        "anomaly", "standard_deviation_flag", "data_repetitions_flag",
        "days_since_last_update_flag", "value", "previous_value",
        "previous_seven_period_avg", "absolute_one_period_difference",
        "average", "standard_deviation",
        "absolute_standard_deviations_from_avg",
        "standard_deviations_from_avg", "data_repetitions",
        "date_recorded", run_date.alias("run_date"),
        "ticker", "granularity", "ticker_info", "ticker_code",
        "granularity_code", "data_pull_frequency", "avg_days_bw_data",
        "days_since_last_update", "unit_type", "index_id",
        F.col("granularity_item_id").alias("granularity_id"),
    ).orderBy(
        F.desc("absolute_standard_deviations_from_avg"),
        F.desc("date_recorded"),
        F.asc("granularity_id"),
    )


def master_anomaly_detector(
    ticker_data: DataFrame,
    ticker_gran: DataFrame,
    ticker_info: DataFrame,
    cfg: Optional[DetectorConfig] = None,
    period: int = 7,
    reference_quirks: bool = False,
) -> DataFrame:
    """Run the decomposition detector over every ticker and enrich with
    both dimension tables (func.R:139-150 projection/rename)."""
    cfg = cfg or DetectorConfig()
    fact = ticker_data
    if cfg.predicate is not None:
        fact = fact.where(cfg.predicate)
    if cfg.eval_ts:
        fact = fact.where(
            F.col("data_timestamp") <= F.lit(cfg.eval_ts).cast("timestamp_ntz")
        )

    detected = stl_iqr_detect(
        fact, ["index_id", "granularity_item_id"],
        "data_timestamp", "data_value",
        period=period, reference_quirks=reference_quirks,
    )
    detected = concat_key(
        detected, ["index_id", "granularity_item_id"], "ticker_index"
    ).withColumnRenamed("index_id", "index").withColumnRenamed(
        "granularity_item_id", "region"
    )

    gran = F.broadcast(
        ticker_gran.select(
            F.col("id").alias("_gran_id"),
            F.col("granularity1").alias("granularity"),
            F.col("Description").alias("granularity_desc"),
        )
    )
    info = F.broadcast(
        ticker_info.select(
            F.col("id").alias("_info_id"),
            "index_name",
            "ticker",
            F.col("description").alias("ticker_desc"),
            F.col("frequency").alias("alleged_freq"),
            "display_unit_type",
            "documentation_url",
        )
    )
    out = (
        detected.join(gran, detected["region"] == F.col("_gran_id"), "left")
        .join(info, detected["index"] == F.col("_info_id"), "left")
    )
    return out.select(
        "data_timestamp", "index", "region", "ticker_index", "anomaly",
        "value", "seven_day_avg", "score", "repetitions", "frequency",
        "alleged_freq", "granularity", "granularity_desc", "index_name",
        "ticker", "ticker_desc", "display_unit_type", "documentation_url",
    )
