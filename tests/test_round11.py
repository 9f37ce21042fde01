"""Round-11 optimization pins.

1. sparse_cosine_pairs' single gram-volume exchange must stay
   AQE-ownable: the r10 layout used REPARTITION_BY_NUM (AQE cannot
   coalesce it — the driver bench regressed 2.92 -> 4.43 s and 8 cores
   beat 32); r11 switched it to `repartition("g")`.  A future edit
   that reintroduces a fixed width on the g exchange fails here.
2. ndcg_dup_retrieval's candidate (jaccard) leg must stay spread:
   the 5x array-jaccard ran on the union's 4 single-file scan
   partitions (2.8 s serialized of a 2.9 s member).
"""

from __future__ import annotations

from anomaly_detection_spark import queries as reg

from tests.plan_nodes import df_nodes, named, partitioning, physical_nodes

SF_DIR = "/root/testdata/sf0.001"


def test_sparse_cosine_gram_exchange_is_aqe_ownable(spark):
    plan = (
        reg.QUERIES["sparse_cosine_pairs"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    lines = [ln for ln in plan.splitlines() if "hashpartitioning(g#" in ln]
    assert lines, "expected the g-keyed gram exchange in the plan"
    offenders = [ln for ln in lines if "REPARTITION_BY_NUM" in ln]
    assert not offenders, (
        "g exchange pinned to a fixed width again (AQE cannot coalesce "
        f"REPARTITION_BY_NUM): {offenders}"
    )
    assert any("REPARTITION_BY_COL" in ln for ln in lines), lines


def test_ndcg_candidate_leg_is_spread(spark):
    """The round-robin spread sits on the candidate leg itself: between
    the union scan and the BroadcastNestedLoopJoin that scores it."""
    df = reg.QUERIES["ndcg_dup_retrieval"](spark, SF_DIR)
    joins = named(df_nodes(df), "BroadcastNestedLoopJoin")
    assert len(joins) == 1, [j.nodeName() for j in joins]
    kids = joins[0].children()
    legs = [kids.apply(i) for i in range(kids.size())
            if kids.apply(i).nodeName() != "BroadcastExchange"]
    assert len(legs) == 1, "expected one streamed (candidate) leg"
    spreads = [
        ex for ex in named(physical_nodes(legs[0]), "Exchange")
        if partitioning(ex) == "RoundRobinPartitioning"
        and named(physical_nodes(ex), "Union")
    ]
    assert spreads, (
        "candidate-leg spread disappeared — the tokenize + 5x jaccard "
        "map work would serialize on the input's scan partitions"
    )
