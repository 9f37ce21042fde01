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
    joins + the 26-column projection, ordered worst-anomaly-first —
    one generated statement, like the reference's.

    A reference user's daily job maps 1:1 onto this call.  Rows tied
    on all three ORDER BY keys come in an unspecified order.
    """
    from anomaly_detection_spark.detect.rules import flags_sql

    cfg = cfg or DetectorConfig()
    text, args = flags_sql(
        ["index_id", "granularity_item_id"], "data_timestamp", "data_value",
        cfg, emit,
    )
    if cfg.predicate is not None:
        ticker_data = ticker_data.where(cfg.predicate)
    spark = ticker_data.sparkSession
    run_date = (
        "CAST(CAST(:eval_ts AS TIMESTAMP_NTZ) AS DATE)" if cfg.eval_ts
        else "current_date()"
    )
    # REPARTITION: a shuffle boundary under the worst-first sort, so its
    # range partitioner samples this small materialized shuffle instead
    # of re-running the window stage beneath it
    statement = f"""
WITH flags AS ({text})
SELECT /*+ BROADCAST(g), BROADCAST(i),
           REPARTITION({spark.sparkContext.defaultParallelism}) */
       f.anomaly, f.standard_deviation_flag, f.data_repetitions_flag,
       f.days_since_last_update_flag, f.value, f.previous_value,
       f.previous_seven_period_avg, f.absolute_one_period_difference,
       f.average, f.standard_deviation,
       f.absolute_standard_deviations_from_avg,
       f.standard_deviations_from_avg, f.data_repetitions,
       f.date_recorded, {run_date} AS run_date,
       i.`index_name` AS ticker, g.`Description` AS granularity,
       i.`description` AS ticker_info, i.`ticker` AS ticker_code,
       g.`granularity1` AS granularity_code,
       i.`frequency` AS data_pull_frequency, f.avg_days_bw_data,
       f.days_since_last_update, i.`unit_type`, f.index_id,
       f.granularity_item_id AS granularity_id
FROM flags f
JOIN {{gran}} g ON f.granularity_item_id = g.`id`
JOIN {{info}} i ON f.index_id = i.`id`
ORDER BY absolute_standard_deviations_from_avg DESC, date_recorded DESC,
         granularity_id ASC
"""
    return spark.sql(statement, args=args, fact=ticker_data,
                     gran=ticker_gran, info=ticker_info)


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
