"""Plan-shape assertions for the round-6 operators: the bloom probe
must be a map-only predicate on the scan (no extra shuffle before the
filter), pair-generating joins must be keyed (no cartesian), and the
new keyed windows must never collapse to a single partition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jibaro_spark.queries.registry import load_tables

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_bloom_probe_is_codegen_filter_no_join(spark):
    """The membership probe compiles to a plain Filter over the scan —
    xxhash64 + getbit expressions, NO join/exchange: the words array
    is a literal in the plan.  This is the property that lets the
    probe prune the fact side before any shuffle."""
    from jibaro_spark.operators.bloom import bloom_build, bloom_might_contain

    li = load_tables(spark, SF, "lineitem")["lineitem"]
    part = load_tables(spark, SF, "part")["part"].filter(F.col("p_size") >= 45)
    words = bloom_build(part, "p_partkey")
    probed = li.filter(bloom_might_contain(F.col("l_partkey"), words)).select(
        "l_orderkey", "l_partkey"
    )
    plan = _executed_plan(probed)
    assert "Filter" in plan
    assert "xxhash64" in plan.lower()
    for bad in ("Join", "Exchange", "CartesianProduct"):
        assert bad not in plan, plan


def test_bloom_anti_join_short_circuits_negatives(spark):
    """The anti path's bloom-negative branch is scan+filter+union only;
    the exact anti join appears once (for the bloom-positive slice)
    and no cartesian product anywhere."""
    from jibaro_spark.operators.bloom import bloom_join

    orders = load_tables(spark, SF, "orders")["orders"]
    vip = load_tables(spark, SF, "customer")["customer"].filter(
        F.col("c_acctbal") >= 9000
    )
    out = bloom_join(orders, vip, "o_custkey", "c_custkey", "left_anti")
    plan = _executed_plan(out)
    assert "CartesianProduct" not in plan
    assert "Union" in plan
    assert plan.count("LeftAnti") == 1, plan


def test_theil_sen_pair_join_is_keyed(spark):
    """Pair generation joins on the nation key — never a cartesian
    product — and the median windows are nation-partitioned."""
    from jibaro_spark.queries.stat_models import q_theil_sen

    plan = _executed_plan(q_theil_sen(spark, SF))
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


@pytest.mark.parametrize(
    "qname",
    [
        "q_mannwhitney_u",
        "q_longest_streak",
        "q_window_count_distinct",
        "q_holt_forecast",
        "q_weighted_sample",
    ],
)
def test_round6_keyed_windows_never_single_partition(spark, qname):
    """Every corpus-sized window/recurrence in the round-6 queries runs
    inside a key shuffle; nothing may collapse the data into one task.
    (q_kaplan_meier, q_lorenz_deciles, and q_decay_score are exempt BY
    DESIGN: their single-partition stages are a duration-bounded
    window, a decile-bounded rollup, and a 1-row global-max horizon
    aggregate fed by map-side partials, documented inline.)"""
    from jibaro_spark.queries import REGISTRY

    plan = _executed_plan(REGISTRY[qname].fn(spark, SF))
    assert "SinglePartition" not in plan, plan


def test_naive_bayes_model_join_is_broadcast(spark):
    """Scoring joins the (doc, token) stream against the lang-bounded
    model map-side: both model joins must be broadcast, no shuffled
    join on the token stream's scoring path."""
    from jibaro_spark.queries.stat_models import q_naive_bayes_lang

    plan = _executed_plan(q_naive_bayes_lang(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_lorenz_rank_is_range_partitioned(spark, monkeypatch):
    """The customer-spend ranking is COST-ROUTED (r12): above the
    single-task sort floor it must take the global_row_number shape
    (range repartition + partition-id windows); at test scale the
    probe routes the plain row_number window.  Both regimes pinned —
    the floor is dropped to force the chunked route."""
    import jibaro_spark.operators.relational as rel
    from jibaro_spark.queries.stat_tests import q_lorenz_deciles

    # test-scale default: the size probe routes the plain window
    plan = _executed_plan(q_lorenz_deciles(spark, SF))
    assert "row_number" in plan, plan
    assert "__gpid" not in plan, plan
    # above the floor (forced): the distributed rank's signature is
    # its partition-id-keyed row_number window (the range exchange
    # itself hides behind global_row_number's localCheckpoint)
    monkeypatch.setattr(rel, "_CARRY_PLAIN_MAX_ABS", 0)
    plan = _executed_plan(q_lorenz_deciles(spark, SF))
    assert "__gpid" in plan, plan
    assert "row_number" in plan, plan


def test_kmv_overlap_rank_is_salt_pruned(spark):
    """The per-group rank must be preceded by the (grp, salt) local
    bottom-k prune — the plan carries both window passes and never a
    partitionless window."""
    from jibaro_spark.queries.sketches import q_kmv_overlap

    plan = _executed_plan(q_kmv_overlap(spark, SF))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Window") >= 2, plan
