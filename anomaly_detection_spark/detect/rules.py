"""Rule-based anomaly flags engine — the Spark-native port of the
reference's SQL engine (``anomaly_proj_query.sql:17-228``).

Per series key, over the trailing ``data_periods`` observations:

- **spike flag** — z-score of the one-period |Δ| against the window's
  mean/sample-stddev of |Δ|, threshold ``stddev_lim``
  (ref ``:96-106,133-136``);
- **repetition flag** — length of the current run of identical values
  via the gaps-and-islands window pair, threshold ``value_rep_lim``
  (ref ``:80-87,111-127,137-140``);
- **staleness flag** — days since the observation vs the series' mean
  sampling gap × ``update_lim`` (ref ``:99-102,141-144``).

Architecture: ONE generated Spark SQL statement (:func:`flags_sql`),
100% JVM (no Python UDFs), shared by both surfaces — ``rule_flags``
here and ``sql_api.rule_flags_sql`` — and embedded as a CTE by
``master.master_rule_flags``.  Every window is ordered on
(keys, ``date_recorded`` ASC), so the plan is one hash Exchange, one
per-key Sort and two ``Window`` operators (pinned by
test_scale_patterns.py):

1. over the whole series: ``lag``, the trailing-7 frame and the
   recency rank ``row_num = count(*) OVER (whole series) −
   row_number() + 1`` (1 = newest), which cuts the trailing
   ``data_periods`` rows;
2. over the cut: the whole-cut statistics, and the run length as the
   distance to the newest reset at or before each row — the running
   ``min`` of the resets' ``row_num`` — instead of the reference's
   widened (key, segment) partition, a second Exchange.

Ties: rows sharing a (key, ts) are numbered in the order the one sort
leaves them, so which of them fall inside the trailing cut is
arbitrary, as it was with the reference's ``ROW_NUMBER() ... DESC``.
Per-key state is bounded (trailing N rows), keys are fine-grained (no
skew), so the plan scales linearly in key cardinality.

Values never enter the text: ``eval_ts``, ``data_periods`` and the
three thresholds are named parameters bound through ``args=``, and
only identifiers are rendered, backtick-quoted.  A malformed
``eval_ts`` fails the cast with ``CAST_INVALID_INPUT``.

Interval semantics (SURVEY.md §2.5 W6): BigQuery's
``EXTRACT(HOUR FROM ts - ts)/24`` floors gaps to whole hours; the
native mode here uses exact fractional days (``seconds/86400``).
Set ``DetectorConfig.bq_compat_intervals=True`` for quirk parity.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame

from anomaly_detection_spark.config import DetectorConfig

# rule_flags' output, after the key columns
FLAG_COLUMNS = (
    "date_recorded", "last_date", "value", "previous_value",
    "previous_seven_period_avg", "absolute_one_period_difference",
    "average", "standard_deviation", "repeated_values", "reset_count",
    "avg_days_bw_data", "days_since_last_update",
    "absolute_standard_deviations_from_avg", "reset_reps_sum",
    "data_repetitions", "standard_deviation_flag", "data_repetitions_flag",
    "days_since_last_update_flag", "anomaly", "standard_deviations_from_avg",
)


def _q(name: str) -> str:
    # braces doubled: the text goes through spark.sql's str.format pass
    quoted = "`" + name.replace("`", "``") + "`"
    return quoted.replace("{", "{{").replace("}", "}}")


def _epoch(expr: str) -> str:
    # TIMESTAMP_NTZ can't cast straight to DOUBLE; NTZ→LTZ is the
    # identity under the UTC session (operators/temporal.py)
    return f"CAST(CAST({expr} AS TIMESTAMP) AS DOUBLE)"


def _c_round(expr: str) -> str:
    # operators/rounding.py:c_round at 4 dp; D suffixes, because bare
    # decimal literals parse as DECIMAL and would leave double
    return f"floor(({expr}) * 10000.0D + 0.5D) / 10000.0D"


def _quantized(expr: str) -> str:
    # rounding.py:quantized — the value on the 4-dp grid as an exact long
    return f"CAST(round({expr} * 10000, 0) AS BIGINT)"


def _exact_mean(qsum: str, n: str) -> str:
    # rounding.py:exact_mean
    return _c_round(f"{qsum} / ({n} * 10000.0D)")


def _exact_stddev(qsum: str, qsum2: str, n: str) -> str:
    # rounding.py:exact_stddev_samp: exact DECIMAL(38,0) cross products,
    # NULL below two observations (written `> 1L`, a guard form the
    # plan divide lint recognises, for `>= 2`)
    d = "DECIMAL(38,0)"
    var = (f"CAST(CAST({n} AS {d}) * CAST({qsum2} AS {d})"
           f" - CAST({qsum} AS {d}) * CAST({qsum} AS {d}) AS DOUBLE)")
    body = _c_round(f"sqrt({var} / CAST({n} * ({n} - 1) AS DOUBLE)) / 10000.0D")
    return f"CASE WHEN {n} > 1L THEN {body} END"


def _gap_days(secs: str, bq_compat: bool) -> str:
    if bq_compat:
        # BigQuery: interval floored to whole hours, then /24
        return f"floor(({secs}) / 3600.0D) / 24.0D"
    # 6-dp rounding (~0.1s) pins float determinism for the oracle
    # comparisons (FIXTURES.md conventions) without changing semantics
    return f"round(({secs}) / 86400.0D, 6)"


def flags_sql(
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    cfg: DetectorConfig,
    emit: str = "latest",
    columns: Sequence[str] = FLAG_COLUMNS,
) -> tuple[str, dict]:
    """The flags pipeline as one Spark SQL statement over ``{fact}``.

    Returns ``(text, args)`` for
    ``spark.sql(text, args=args, fact=<DataFrame>)``; the output is the
    key columns followed by ``columns`` (any subset of
    :data:`FLAG_COLUMNS`).
    """
    if emit == "eval_date" and not cfg.eval_ts:
        raise ValueError("emit='eval_date' requires cfg.eval_ts")
    if emit not in ("latest", "eval_date", "all"):
        raise ValueError(f"unknown emit mode: {emit}")
    k = ", ".join(_q(c) for c in keys)
    w = f"PARTITION BY {k} ORDER BY date_recorded"
    whole = f"({w} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    trail7 = f"({w} ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)"
    args = {
        "data_periods": cfg.data_periods, "stddev_lim": cfg.stddev_lim,
        "value_rep_lim": cfg.value_rep_lim, "update_lim": cfg.update_lim,
    }
    cutoff = complete = now = ""
    ref_now = "_max_date"
    if cfg.eval_ts:
        args["eval_ts"] = cfg.eval_ts
        ref_now = "CAST(:eval_ts AS TIMESTAMP_NTZ)"
        # temporal cutoff (ref :46) — pushed to the parquet scan by Catalyst
        cutoff = f"WHERE {_q(ts_col)} <= {ref_now}"
    else:
        now = f"max(date_recorded) OVER {whole} AS _max_date,"
    if cfg.require_complete:
        # ref func.R:55 — window-count rewrite of the max_row_num join (P8/J3)
        complete = "AND _series_n >= :data_periods"
    where = {
        "latest": "WHERE row_num = 1",
        "eval_date": f"WHERE date_recorded = {ref_now}",
        "all": "",
    }[emit]
    q_diff = _quantized("absolute_one_period_difference")
    text = f"""
WITH src AS (
    SELECT {k}, {_q(ts_col)} AS date_recorded, {_q(value_col)} AS _v
    FROM {{fact}} {cutoff}
),
-- row_data (ref :17-52): lag context, trailing-7 mean, recency rank
row_data AS (
    SELECT {k}, date_recorded,
           lag(date_recorded) OVER ({w}) AS last_date,
           round(_v, 4) AS value,
           round(lag(_v) OVER ({w}), 4) AS previous_value,
           -- ENGINE CONVENTION (stated, like the other reference
           -- quirks): the trailing-7 mean averages values on the 4-dp
           -- grid via the exact integer-sum fold (bit-identical across
           -- engines), while the reference (anomaly_proj_query.sql:41-44)
           -- averages raw values and rounds the result.  Identical for
           -- inputs already on the 4-dp grid.
           {_exact_mean(f"sum({_quantized('_v')}) OVER {trail7}",
                        f"count(_v) OVER {trail7}")} AS previous_seven_period_avg,
           count(*) OVER {whole} - row_number() OVER ({w}) + 1 AS row_num,
           count(*) OVER {whole} AS _series_n
    FROM src
),
-- detrended (ref :53-67): trailing-N cut + diffs
detrended AS (
    SELECT *,
           abs(round(value - previous_value, 4)) AS absolute_one_period_difference,
           {_epoch('date_recorded')} - {_epoch('last_date')} AS _gap_secs,
           CASE WHEN absolute_one_period_difference = 0 THEN 1 ELSE 0 END
               AS repeated_values,
           CASE WHEN absolute_one_period_difference = 0 THEN 0 ELSE 1 END
               AS reset_count
    FROM row_data
    WHERE row_num <= :data_periods {complete}
),
-- stats (ref :68-95) over the cut: exact integer sums of the 4-dp
-- quantized diffs are order-independent, so average/stddev are
-- bit-identical on any engine or layout (operators/rounding.py);
-- run length (ref :111-127) = distance to the newest reset so far
stats AS (
    SELECT *,
           sum({q_diff}) OVER {whole} AS _q_sum,
           sum({q_diff} * {q_diff}) OVER {whole} AS _q_sum2,
           count(absolute_one_period_difference) OVER {whole} AS _q_n,
           avg(_gap_secs) OVER {whole} AS _avg_gap_secs, {now}
           sum(reset_count) OVER ({w}) AS reset_reps_sum,
           min(CASE WHEN reset_count = 1 THEN row_num END) OVER ({w})
               - row_num + 1 AS data_repetitions
    FROM detrended
),
-- stddev_data (ref :96-116): z-score and staleness
stddev_data AS (
    SELECT *,
           {_exact_mean('_q_sum', '_q_n')} AS average,
           {_exact_stddev('_q_sum', '_q_sum2', '_q_n')} AS standard_deviation,
           {_gap_days('_avg_gap_secs', cfg.bq_compat_intervals)} AS avg_days_bw_data,
           {_gap_days(f"{_epoch(ref_now)} - {_epoch('date_recorded')}",
                      cfg.bq_compat_intervals)} AS days_since_last_update
    FROM stats
),
-- flag_data + final (ref :130-155,166-169)
flag_data AS (
    SELECT *,
           -- NULL stddev (n<2) and 0 stddev both fall to 0, as in the
           -- reference's CASE (NULL != 0 is NULL → ELSE branch)
           CASE WHEN standard_deviation != 0.0D
                THEN round(abs(absolute_one_period_difference - average)
                           / standard_deviation, 4)
                ELSE 0.0D END AS absolute_standard_deviations_from_avg
    FROM stddev_data
),
flags AS (
    SELECT *,
           CASE WHEN absolute_standard_deviations_from_avg >= :stddev_lim
                THEN 1 ELSE 0 END AS standard_deviation_flag,
           CASE WHEN data_repetitions >= :value_rep_lim
                THEN 1 ELSE 0 END AS data_repetitions_flag,
           CASE WHEN days_since_last_update > avg_days_bw_data * :update_lim
                THEN 1 ELSE 0 END AS days_since_last_update_flag
    FROM flag_data
),
final AS (
    SELECT *,
           CASE WHEN standard_deviation_flag = 1 OR data_repetitions_flag = 1
                     OR days_since_last_update_flag = 1
                THEN 1 ELSE 0 END AS anomaly,
           CASE WHEN value - previous_value < 0.0D
                THEN -absolute_standard_deviations_from_avg
                ELSE absolute_standard_deviations_from_avg
                END AS standard_deviations_from_avg
    FROM flags {where}
)
SELECT {k}, {", ".join(columns)} FROM final
"""
    return text, args


def rule_flags(
    fact: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    cfg: Optional[DetectorConfig] = None,
    emit: str = "latest",
) -> DataFrame:
    """Run the flags pipeline over ``fact``.

    Parameters
    ----------
    fact : input observations (one row per key+timestamp).
    keys : series key columns (reference: index_id, granularity_item_id).
    ts_col / value_col : observation timestamp / value columns.
    cfg : thresholds & eval date (reference's DECLARE block).
    emit : ``"latest"`` (newest row per series — ref ``:221`` variant),
        ``"eval_date"`` (rows recorded exactly at ``cfg.eval_ts`` — ref
        ``:222``), or ``"all"`` (every scored row).

    Returns one row per emitted observation with the three flags, the
    OR'd ``anomaly`` bit, and all intermediate statistics (reference
    final select ``:148-190`` minus the dim-join attributes, which are
    the caller's ``enrich`` step).
    """
    cfg = cfg or DetectorConfig()
    text, args = flags_sql(keys, ts_col, value_col, cfg, emit)
    if cfg.predicate is not None:
        fact = fact.where(cfg.predicate)
    return fact.sparkSession.sql(text, args=args, fact=fact)
