"""Scale-pattern tests: salted aggregation correctness, bucketed-join
exchange elimination, plan-shape assertions for the flags pipeline,
and CSV/JSON source round-trips."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.operators.skew import salted_agg, write_bucketed
from anomaly_detection_spark.sources.tables import load_table

from tests.plan_nodes import df_nodes, named


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_agg_matches_plain(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    plain = {
        (r.event_type): (r.n, round(r.tot, 2))
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tot"))
        .collect()
    }
    salted = {
        (r.event_type): (r.n, round(r.tot, 2))
        for r in salted_agg(
            ev, ["event_type"],
            {
                "n": (F.count(F.lit(1)), F.sum("n")),
                "tot": (F.sum("value"), F.round(F.sum("tot"), 2)),
            },
            n_salts=8,
        ).collect()
    }
    assert salted == plain


@pytest.fixture()
def warehouse(spark):
    d = tempfile.mkdtemp()
    yield d
    shutil.rmtree(d, ignore_errors=True)
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_skips_exchange(spark, sf_dir, warehouse):
    o = load_table(spark, "orders", sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    write_bucketed(o.withColumnRenamed("o_orderkey", "k"), "b_orders", ["k"], 8)
    write_bucketed(l.withColumnRenamed("l_orderkey", "k"), "b_lineitem", ["k"], 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_orders").join(spark.table("b_lineitem"), "k")
            .groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        )
        assert joined.count() > 0  # force execution → AQE finalizes
        plan = _physical_plan(joined)
        # co-located buckets: join + agg both reuse the bucket layout,
        # so the whole query plans ZERO shuffles
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_flags_pipeline_single_exchange(spark, sf_dir):
    """The whole flags pipeline must plan exactly ONE hash exchange:
    every window (including the run-length, rewritten as a running-min
    distance) shares the series-key partitioning. Any more is a perf
    regression."""
    from anomaly_detection_spark.config import DetectorConfig
    from anomaly_detection_spark.detect.rules import rule_flags
    ev = load_table(spark, "events", sf_dir)
    out = rule_flags(
        ev, ["user_id"], "ts", "value",
        DetectorConfig(eval_ts="2024-02-01"), emit="latest",
    )
    plan = _physical_plan(out)
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges == 1, plan
    # one generated statement, every window on (keys, ts ASC): one
    # per-key Sort feeds every Window (the DataFrame chain planned 3 + 8)
    nodes = df_nodes(out)
    assert len(named(nodes, "Sort")) == 1, plan
    assert 1 <= len(named(nodes, "Window")) <= 3, plan


def test_csv_json_source_roundtrip(spark, sf_dir):
    """S-layer breadth: the engine's queries run identically over
    CSV/JSON sources given an explicit schema (schema-on-read)."""
    ev = load_table(spark, "events", sf_dir).limit(200)
    d = tempfile.mkdtemp()
    try:
        csv_path = os.path.join(d, "ev_csv")
        json_path = os.path.join(d, "ev_json")
        ev.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")) \
          .write.option("header", True).csv(csv_path)
        ev.write.json(json_path)
        schema = ("event_id long, ts string, user_id long, event_type string, "
                  "value double, props string")
        back_csv = (
            spark.read.schema(schema).option("header", True).csv(csv_path)
            .withColumn("ts", F.to_timestamp("ts").cast("timestamp_ntz"))
        )
        back_json = (
            spark.read.schema(schema).json(json_path)
            .withColumn("ts", F.to_timestamp("ts").cast("timestamp_ntz"))
        )
        assert back_csv.count() == 200 and back_json.count() == 200
        a = back_csv.agg(F.round(F.sum("value"), 2).alias("s")).first().s
        b = back_json.agg(F.round(F.sum("value"), 2).alias("s")).first().s
        c = ev.agg(F.round(F.sum("value"), 2).alias("s")).first().s
        assert a == b == c
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_salted_join_matches_plain(spark, sf_dir):
    from anomaly_detection_spark.operators.skew import salted_join

    ev = load_table(spark, "events", sf_dir)
    dim = (
        ev.groupBy("event_type").count()
        .withColumnRenamed("count", "type_total")
    )
    plain = sorted(
        (r.event_id, r.type_total)
        for r in ev.join(dim, "event_type").collect()
    )
    salted = sorted(
        (r.event_id, r.type_total)
        for r in salted_join(ev, dim, ["event_type"], n_salts=8).collect()
    )
    assert salted == plain


def test_salted_join_left_keeps_unmatched(spark, sf_dir):
    from anomaly_detection_spark.operators.skew import salted_join

    ev = load_table(spark, "events", sf_dir)
    dim = spark.createDataFrame(
        [("purchase", 1.5)], "event_type string, boost double"
    )
    out = salted_join(ev, dim, ["event_type"], n_salts=4, how="left")
    assert out.count() == ev.count()
    assert out.where(F.col("boost").isNull()).count() == ev.where(
        F.col("event_type") != "purchase"
    ).count()


def test_compact_files_reduces_file_count(spark, sf_dir, tmp_path):
    import os as _os

    from anomaly_detection_spark.operators.compact import (
        compact_files, dataset_bytes,
    )

    ev = load_table(spark, "events", sf_dir)
    src = _os.path.join(tmp_path, "fragmented")
    dst = _os.path.join(tmp_path, "compacted")
    ev.repartition(32).write.parquet(src)  # 32 tiny files
    n_in = len([f for f in _os.listdir(src) if f.endswith(".parquet")])
    assert n_in == 32
    target = max(1, dataset_bytes(src))  # everything fits one file
    n_out = compact_files(spark, src, dst, target_file_bytes=target)
    files_out = [f for f in _os.listdir(dst) if f.endswith(".parquet")]
    assert n_out == 1 and len(files_out) == 1
    # same data, byte-for-byte rowset
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert a == b


def test_rank_family_distributed_no_single_partition(spark, sf_dir):
    """rank_family must match a global-window reference and keep every
    exchange parallel — no SinglePartition anywhere in the plan."""
    from pyspark.sql.window import Window

    from anomaly_detection_spark.operators.ranking import rank_family

    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    ranked = rank_family(o, ["o_totalprice", "o_orderkey"], ntile_n=4)
    assert "SinglePartition" not in _physical_plan(ranked)

    w = Window.orderBy("o_totalprice", "o_orderkey")
    ref = o.select(
        "o_orderkey",
        F.row_number().over(w).alias("global_rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.ntile(4).over(w).alias("tile"),
    )
    got = {
        r.o_orderkey: (r.global_rn, r.rnk, r.drnk,
                       round(r.pct_rank, 9), round(r.cume, 9), r.tile)
        for r in ranked.collect()
    }
    want = {
        r.o_orderkey: (r.global_rn, r.rnk, r.drnk, r.pct_rank, r.cume, r.tile)
        for r in ref.collect()
    }
    assert got == want


def test_rank_family_handles_ties(spark):
    """Tie groups (duplicate sort keys) must produce identical
    rank/dense_rank/cume across partitions."""
    from pyspark.sql.window import Window

    from anomaly_detection_spark.operators.ranking import rank_family

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate([5.0, 1.0, 3.0, 3.0, 3.0, 1.0, 8.0, 5.0])],
        "id int, v double",
    )
    ranked = rank_family(df, ["v"], ntile_n=3, num_partitions=4)
    w = Window.orderBy("v")
    ref = df.select(
        "id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )
    got = {r.id: (r.rnk, r.drnk, round(r.cume, 9)) for r in ranked.collect()}
    want = {r.id: (r.rnk, r.drnk, r.cume) for r in ref.collect()}
    assert got == want


def test_redact_pii_shuffle_free(spark, sf_dir):
    """PII scrubbing is a pure projection: any exchange in its plan is
    a regression (at 100 TB it must stream map-only)."""
    from anomaly_detection_spark.pipeline.redact import pii_counts, redact_pii
    docs = load_table(spark, "documents", sf_dir)
    plan = _physical_plan(redact_pii(pii_counts(docs)))
    assert "Exchange" not in plan, plan


def test_redact_pii_idempotent(spark):
    """Masking already-masked text changes nothing (the tokens contain
    no maskable substrings) — re-running a scrub pass is safe."""
    from anomaly_detection_spark.pipeline.redact import redact_pii
    df = spark.createDataFrame(
        [(1, "a b@c.io +1-222-333-4444 9.9.9.9")], "id long, text string"
    )
    once = redact_pii(df).select(F.col("redacted").alias("text"))
    twice = redact_pii(once)
    row = twice.collect()[0]
    assert row.redacted == row.text


def test_boilerplate_single_gram_shuffle(spark, sf_dir):
    """Per-doc gram counts fold inside the array (map-only); the plan
    may shuffle only for the final gram-keyed rollup."""
    from anomaly_detection_spark.pipeline.text import boilerplate_ngrams
    docs = load_table(spark, "documents", sf_dir)
    plan = _physical_plan(boilerplate_ngrams(docs))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_curated_corpus_append_safe(spark, sf_dir):
    """Curation verdicts per doc don't change when the corpus grows
    with distinct new docs (hash split + per-doc stats are row-local;
    dedup keeps min-id, and the appended ids are higher)."""
    from anomaly_detection_spark import queries as reg
    base = reg.QUERIES["curated_corpus"](spark, sf_dir)
    before = {r.doc_id: (r.n_tokens, r.split) for r in base.collect()}
    docs = load_table(spark, "documents", sf_dir)
    extra = docs.limit(7).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.concat(F.lit("fresh unseen body "), F.col("text")).alias("text"),
        "lang", "source", "n_chars",
    )
    grown = docs.unionByName(extra)

    # rebuild the same pipeline over the grown corpus
    from anomaly_detection_spark.pipeline.decontaminate import hash_split
    from pyspark.sql.window import Window as W
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stats = grown.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double")
                / F.size(toks), 4).alias("dup_token_frac"),
        F.md5(F.trim(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
              .cast("binary")).alias("fp"),
    ).where((F.col("n_tokens") >= 30) & (F.col("dup_token_frac") <= 0.6))
    deduped = (
        stats.withColumn("_rn", F.row_number().over(
            W.partitionBy("fp").orderBy("doc_id")))
        .where(F.col("_rn") == 1)
        .select("doc_id", "n_tokens", "dup_token_frac")
    )
    after = {
        r.doc_id: (r.n_tokens, r.split)
        for r in hash_split(deduped, "doc_id").collect()
    }
    for doc_id, v in before.items():
        assert after[doc_id] == v, doc_id


def test_robust_detectors_single_exchange(spark, sf_dir):
    """Hampel and CUSUM stack many window passes, but all share the
    series-key partitioning — exactly ONE hash exchange each."""
    from anomaly_detection_spark.detect.robust import cusum, rolling_median_hampel

    ev = load_table(spark, "events", sf_dir)
    for out in (
        rolling_median_hampel(ev, ["user_id"], ["ts", "event_id"], "value"),
        cusum(ev, ["user_id"], ["ts", "event_id"], "value"),
    ):
        plan = _physical_plan(out)
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_funnel_single_shuffle(spark, sf_dir):
    """The chained window-min funnel + per-user rollup reuses one
    user_id exchange; the summary adds only a single-partition gather
    of pre-aggregated partials."""
    from anomaly_detection_spark.operators.funnel import funnel_summary, funnel_times

    ev = load_table(spark, "events", sf_dir)
    steps = [
        ("s_view", F.col("event_type") == "view"),
        ("s_click", F.col("event_type") == "click"),
        ("s_purchase", F.col("event_type") == "purchase"),
    ]
    pu = funnel_times(ev, steps)
    plan = _physical_plan(pu)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_aqe_runtime_broadcast_conversion(spark, sf_dir):
    """With static broadcast estimation disabled, AQE must still
    convert the shuffle join to a broadcast join at RUNTIME, once the
    filtered side's true (tiny) materialized size is known — the
    mechanism that rescues join plans whose static size estimates are
    wrong, which at 100 TB is most of them."""
    static_key = "spark.sql.autoBroadcastJoinThreshold"
    adaptive_key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    old_static = spark.conf.get(static_key)
    try:
        spark.conf.set(static_key, "-1")
        spark.conf.set(adaptive_key, "10m")
        ev = load_table(spark, "events", sf_dir)
        small = (
            load_table(spark, "customer", sf_dir)
            .where(F.col("c_custkey") % 97 == 0)
            .select(F.col("c_custkey").alias("user_id"))
        )
        joined = ev.join(small, "user_id").groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n")
        )
        assert len(joined.collect()) >= 0  # execute THIS plan: AQE
        # re-plans mid-flight and executedPlan becomes the final plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
    finally:
        spark.conf.set(static_key, old_static)
        spark.conf.unset(adaptive_key)


def test_column_profiler_single_scan(spark, sf_dir):
    """All 18 profile aggregates (count/nulls/NDV x 6 columns) must
    come from ONE table scan — the whole point of the stacked-agg
    profiler vs per-column queries."""
    from anomaly_detection_spark import queries as reg

    df = reg.QUERIES["profile_columns_events"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
