"""Round-10 guards: the r9 ADVICE fixes.

1. ``rank_family`` grouped mode keeps rows whose GROUP key is NULL —
   the offsets join-back is null-safe end-to-end, so a NULL group ranks
   as its own group exactly like ``PARTITION BY`` window semantics
   (previously the USING inner join silently dropped those rows).
2. ``release_local_checkpoints`` requires an explicit ``keep_ids``
   snapshot — the zero-argument form that unpersisted EVERY pinned RDD
   in the session (including other code's live localCheckpoint blocks,
   which have no lineage to recompute from) is rejected.
3. ``text_quality`` / the Gopher gate emit a clean BOOLEAN verdict for
   every threshold choice, including ``min_words=0`` on a zero-word
   document (previously ``true AND NULL`` leaked a NULL keep).
4. ``rank_family`` materializes its range exchange exactly ONCE even
   when the input carries payload columns the stats branch does not
   need.  Before the round-10 content-fingerprint guard, column
   pruning below the stats/peers branch broke canonical plan equality
   and AQE ran the range shuffle twice with independently sampled
   boundaries — silent rank corruption at scale (kendall_w's grid,
   which carries ``user_id`` as payload, was the affected caller).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.operators.ranking import rank_family


def test_rank_family_grouped_null_group_rows_survive(spark):
    """A NULL group key is a legal PARTITION BY group: rows must not
    vanish, and must rank exactly like the window oracle."""
    rows = [
        (1, "a", 5), (2, "a", 3), (3, None, 9), (4, None, 1),
        (5, "b", 2), (6, None, 9), (7, "a", 3),
    ]
    df = spark.createDataFrame(rows, "id int, g string, k int")
    out = rank_family(
        df, ["k", "id"], num_partitions=4, partition_cols=["g"]
    ).collect()
    assert len(out) == len(rows), "NULL-group rows were dropped"
    got = {r["id"]: (r["global_rn"], r["rnk"], r["drnk"]) for r in out}
    ref = {
        r["id"]: (r["global_rn"], r["rnk"], r["drnk"])
        for r in df.selectExpr(
            "id",
            "row_number() over (partition by g order by k, id)"
            " as global_rn",
            "rank() over (partition by g order by k, id) as rnk",
            "dense_rank() over (partition by g order by k, id) as drnk",
        ).collect()
    }
    assert got == ref


def test_release_local_checkpoints_requires_keep_ids(spark):
    """The zero-arg form released EVERY pinned RDD in the session —
    including other code's live lineage-free localCheckpoint blocks.
    keep_ids is now a required snapshot; the permissive default is
    gone."""
    from anomaly_detection_spark.pipeline.similarity import (
        persistent_rdd_ids,
        release_local_checkpoints,
    )

    with pytest.raises(TypeError):
        release_local_checkpoints(spark)
    # The enforced snapshot-diff pattern still works and releases
    # nothing when nothing new was pinned.
    before = persistent_rdd_ids(spark)
    assert release_local_checkpoints(spark, keep_ids=before) == []


def test_gopher_keep_is_boolean_with_min_words_zero(spark):
    """min_words=0 on a zero-word doc: keep must be False, not NULL
    (`true AND NULL` previously leaked through the conjunction)."""
    from anomaly_detection_spark.pipeline.text import gopher_quality_rules

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "the of and plain words here okay")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r["keep"]
        for r in gopher_quality_rules(
            docs, min_words=0, min_stopwords=0
        ).collect()
    }
    assert out[1] is False and out[2] is False
    assert all(isinstance(v, bool) for v in out.values())


# ---------------------------------------------------------------------------
# Round-10 registrations: Friedman test + per-domain length deciles
# ---------------------------------------------------------------------------


def test_friedman_closed_form_laws(spark):
    """Identical strict ranking in every block -> Q = n(k-1) exactly
    (q_ppm = 1e6 * n * (k-1)); Latin-square rotation -> equal rank
    sums, Q = 0; all-tied-everywhere -> denominator 0 -> NULL — each
    through the registered callable AND the real oracle compare."""
    from anomaly_detection_spark import queries as reg
    from tests.oracle_check import compare
    from tests.test_round9 import _events_dir

    # 4 blocks (users), 3 treatments, same strict order everywhere:
    # Q = n(k-1) = 8 -> 8_000_000 ppm
    rows = [(u, et, float(v))
            for u in (1, 2, 3, 4) for v, et in enumerate(("a", "b", "c"), 1)]
    d = _events_dir(spark, rows)
    r = reg.QUERIES["friedman_test_event_types"](spark, d).collect()[0]
    assert (r["k_treatments"], r["n_blocks"]) == (3, 4)
    assert r["q_ppm"] == 8_000_000
    assert not compare(reg.QUERIES["friedman_test_event_types"](spark, d),
                       reg.ORACLES["friedman_test_event_types"], d)

    # Latin-square rotation: every treatment takes each rank once ->
    # rank sums equal -> Q = 0
    square = {1: {"a": 1, "b": 2, "c": 3},
              2: {"a": 2, "b": 3, "c": 1},
              3: {"a": 3, "b": 1, "c": 2}}
    rows = [(u, et, float(v)) for u, m in square.items()
            for et, v in m.items()]
    d = _events_dir(spark, rows)
    r = reg.QUERIES["friedman_test_event_types"](spark, d).collect()[0]
    assert r["q_num"] == 0 and r["q_ppm"] == 0
    assert not compare(reg.QUERIES["friedman_test_event_types"](spark, d),
                       reg.ORACLES["friedman_test_event_types"], d)

    # every block fully tied -> sum dbl^2 == n*k*(k+1)^2 -> den = 0
    rows = [(u, et, 5.0) for u in (1, 2) for et in ("a", "b", "c")]
    d = _events_dir(spark, rows)
    r = reg.QUERIES["friedman_test_event_types"](spark, d).collect()[0]
    assert r["q_den"] == 0 and r["q_ppm"] is None
    assert not compare(reg.QUERIES["friedman_test_event_types"](spark, d),
                       reg.ORACLES["friedman_test_event_types"], d)


def _docs_dir(spark, docs):
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp()
    t = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, n_chars long, "
              "source string",
    )
    pq.write_table(pa.Table.from_pandas(t.toPandas()),
                   os.path.join(d, "documents.parquet"))
    return d


def test_domain_length_deciles_laws(spark):
    """Per-source decile profile: counts sum to the source total,
    decile sizes follow the ntile law (first n%10 deciles one larger),
    ranges are non-overlapping in decile order, and a NULL source is
    a legal domain (rides the r10 null-safe grouped rank family) —
    plus the real oracle compare on the same fixture."""
    from anomaly_detection_spark import queries as reg
    from tests.oracle_check import compare

    docs = []
    did = 0
    for src, n in (("big", 37), ("small", 3), (None, 12)):
        for i in range(n):
            did += 1
            # heavy length ties: only 5 distinct lengths per source
            docs.append((did, "t", "en", 10 + (i % 5), src))
    d = _docs_dir(spark, docs)
    rows = reg.QUERIES["domain_length_deciles_docs"](spark, d).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    totals = {"big": 37, "small": 3, None: 12}
    assert set(by_src) == set(totals)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["decile"])
        n = totals[src]
        assert sum(r["n_docs"] for r in rs) == n
        q, rem = divmod(n, 10)
        for r in rs:
            want = q + 1 if r["decile"] <= rem else q
            assert r["n_docs"] == want, (src, r["decile"])
        for a, b in zip(rs, rs[1:]):
            assert a["max_chars"] <= b["min_chars"], (src, a, b)
    assert not compare(reg.QUERIES["domain_length_deciles_docs"](spark, d),
                       reg.ORACLES["domain_length_deciles_docs"], d)


def _materialized_range_stages(df) -> list[str]:
    """Distinct ShuffleQueryStage ids in the FINAL adaptive plan whose
    stage subtree roots a NON-reused range exchange.  The df must have
    been collected first (AQE finalizes the plan only after executing
    that same DataFrame)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    lines = plan.splitlines()
    out = set()
    for i, line in enumerate(lines):
        m = re.search(r"ShuffleQueryStage (\d+)", line)
        if not m:
            continue
        for j in range(i + 1, min(i + 3, len(lines))):
            if "ReusedExchange" in lines[j]:
                break
            if "Exchange rangepartitioning" in lines[j]:
                out.add(m.group(1))
                break
            if "Exchange" in lines[j]:
                break
    return sorted(out)


def test_rank_family_payload_single_range_materialization(spark):
    # The regression shape: a payload column ("payload") that neither
    # the order keys nor the group keys reference.  Pre-fix, the stats
    # branch pruned it and the range exchange materialized twice.
    base = (
        spark.range(0, 20000)
        .select((F.col("id") % 97).alias("k"), "id")
        .withColumn("payload", F.col("id") * 2)
    )
    out = rank_family(base, ["k", "id"], ntile_n=8)
    rows = out.collect()
    assert len(rows) == 20000
    stages = _materialized_range_stages(out)
    assert len(stages) == 1, (
        f"range exchange materialized {len(stages)}x ({stages}) — "
        "stats/output branches may rank against different boundaries"
    )
    # grouped mode, same payload shape
    g = base.withColumn("g", (F.col("id") % 3).cast("string"))
    gout = rank_family(g, ["k", "id"], partition_cols=["g"])
    assert len(gout.collect()) == 20000
    assert len(_materialized_range_stages(gout)) == 1


def test_rank_family_payload_semantics_vs_global_window(spark):
    from pyspark.sql.window import Window

    df = (
        spark.range(0, 5000)
        .select((F.col("id") % 41).alias("k"), "id")
        .withColumn("payload", (F.col("id") * 7 % 13).cast("string"))
    )
    got = {
        (r["id"], r["payload"], r["global_rn"], r["rnk"], r["drnk"],
         r["tile"], round(r["pct_rank"], 9), round(r["cume"], 9))
        for r in rank_family(df, ["k", "id"], ntile_n=7).collect()
    }
    w = Window.orderBy("k", "id")
    exp = {
        (r["id"], r["payload"], r["global_rn"], r["rnk"], r["drnk"],
         r["tile"], round(r["pct_rank"], 9), round(r["cume"], 9))
        for r in df.withColumn("global_rn", F.row_number().over(w))
        .withColumn("rnk", F.rank().over(w))
        .withColumn("drnk", F.dense_rank().over(w))
        .withColumn("tile", F.ntile(7).over(w))
        .withColumn("pct_rank", F.percent_rank().over(w))
        .withColumn("cume", F.cume_dist().over(w))
        .collect()
    }
    assert got == exp


def test_rank_family_narrow_consumer_keeps_guard_and_reuse(spark):
    """A caller that selects only ONE derived output (the longest
    derivation chains: cume via _cume_num/max(global_rn), tile via
    global_rn/_q/_big) must still keep the fingerprint machinery
    alive against column pruning — otherwise the stats branch narrows
    again and the double materialization returns."""
    base = (
        spark.range(0, 20000)
        .select((F.col("id") % 97).alias("k"), "id")
        .withColumn("payload", F.col("id") * 2)
    )
    for sel in (["cume"], ["tile"]):
        out = rank_family(base, ["k", "id"], ntile_n=8).select(*sel)
        out.collect()
        stages = _materialized_range_stages(out)
        assert len(stages) == 1, (sel, stages)
    # and the in-plan assert survives optimization on a narrow consumer
    # (no execution needed — this is a pure plan property)
    narrow = rank_family(base, ["k", "id"]).select("rnk")
    oplan = narrow._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in oplan
    assert "exchange reuse failed" in oplan


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),            # key
            st.sampled_from(["a", "b", None]),                  # group
        ),
        min_size=0, max_size=100,
    ),
    p=st.integers(min_value=1, max_value=6),
    ntile_n=st.integers(min_value=1, max_value=4),
)
def test_rank_family_grouped_fuzz_matches_partitioned_window(
    spark, rows, p, ntile_n
):
    """Grouped-mode fuzz: arbitrary duplicate-heavy keys, arbitrary
    group assignment INCLUDING NULL groups (the r10 null-safe join
    path), arbitrary partition/tile counts — the whole rank family
    must equal Spark's own PARTITION BY window, which is trivially
    correct at this size."""
    df = spark.createDataFrame(
        [(i, g, k) for i, (k, g) in enumerate(rows)],
        "id long, g string, k long",
    )
    got = {
        r["id"]: (r["global_rn"], r["rnk"], r["drnk"], r["tile"],
                  round(r["pct_rank"], 9), round(r["cume"], 9))
        for r in rank_family(
            df, ["k", "id"], ntile_n=ntile_n, num_partitions=p,
            partition_cols=["g"],
        ).collect()
    }
    want = {
        r["id"]: (r["global_rn"], r["rnk"], r["drnk"], r["tile"],
                  round(r["pct_rank"], 9), round(r["cume"], 9))
        for r in df.selectExpr(
            "id",
            "row_number() over (partition by g order by k, id)"
            " as global_rn",
            "rank() over (partition by g order by k, id) as rnk",
            "dense_rank() over (partition by g order by k, id) as drnk",
            f"ntile({ntile_n}) over (partition by g order by k, id)"
            " as tile",
            "percent_rank() over (partition by g order by k, id)"
            " as pct_rank",
            "cume_dist() over (partition by g order by k, id) as cume",
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Round-10 optimization guard: spread_single_file must not stack a
# second exchange onto a frame a caller already widened (inputFiles()
# sees through shuffles to the backing file, so without the lineage
# probe a spread-then-derive-then-spread chain would repartition the
# full rows twice).
# ---------------------------------------------------------------------------

def test_spread_single_file_is_idempotent_on_widened_lineage(spark, sf_dir):
    from anomaly_detection_spark.sources.tables import (
        load_table, spread_single_file,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    once = spread_single_file(docs)
    again = spread_single_file(once.where(F.length("text") >= 0))
    plan = str(again._jdf.queryExecution().logical())
    assert plan.count("Repartition") == 1, plan
    # and the guard still fires on a raw narrow scan
    assert str(once._jdf.queryExecution().logical()).count("Repartition") == 1


def test_spread_single_file_ignores_repartition_literal(spark, sf_dir):
    """The lineage probe matches plan-node classes, not plan text: a
    filter on the string 'Repartition' is no repartition node, so the
    narrow scan under it must still be widened."""
    from anomaly_detection_spark.sources.tables import (
        load_table, spread_single_file,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    tricky = docs.where(F.col("text") != F.lit("Repartition"))
    assert "Repartition" in str(tricky._jdf.queryExecution().logical())
    spread = spread_single_file(tricky)
    assert spread is not tricky
    plan = spread._jdf.queryExecution().logical().toJSON()
    assert plan.count(
        '"org.apache.spark.sql.catalyst.plans.logical.Repartition"') == 1, plan
