"""Plan-shape assertions for the scale-critical paths: bucketed
shuffle-free joins, partition pruning, predicate pushdown, broadcast
selection.  These test the PLAN (what a 1000-executor cluster would
execute), not row counts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jibaro_spark.io import write_bucketed_table
from jibaro_spark.queries.registry import load_tables

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    t = load_tables(spark, SF, "orders", "lineitem")
    write_bucketed_table(
        t["orders"], "b_orders", ["o_orderkey"], num_buckets=8,
        sort_cols=["o_orderkey"],
    )
    write_bucketed_table(
        t["lineitem"], "b_lineitem", ["l_orderkey"], num_buckets=8,
        sort_cols=["l_orderkey"],
    )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    o, l = bucketed_tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table(l)
            .join(spark.table(o), F.col("l_orderkey") == F.col("o_orderkey"))
            .select("l_orderkey", "l_quantity", "o_totalprice")
        )
        plan = _executed_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    # row-level sanity: same count as the plain join
    t = load_tables(spark, SF, "orders", "lineitem")
    expected = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    assert joined.count() == expected


def test_bucketed_groupby_on_bucket_key_has_no_shuffle(spark, bucketed_tables):
    _, l = bucketed_tables
    agg = spark.table(l).groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    plan = _executed_plan(agg)
    assert "Exchange" not in plan, plan


def test_partition_pruning_reads_one_partition(spark, tmp_path):
    ev = load_tables(spark, SF, "events")["events"]
    out = str(tmp_path / "ev_part")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    n_types = ev.select("event_type").distinct().count()
    assert n_types > 1

    q = spark.read.parquet(out).filter(F.col("event_type") == "click")
    q.write.format("noop").mode("overwrite").save()
    qe = q._jdf.queryExecution()
    scan = qe.executedPlan().toString()
    # pruned scan: the partition filter reached the file source
    assert "PartitionFilters" in scan
    assert "event_type" in scan.split("PartitionFilters")[1][:200]
    expected = ev.filter(F.col("event_type") == "click").count()
    assert q.count() == expected


def test_predicate_and_projection_pushdown(spark):
    li = load_tables(spark, SF, "lineitem")["lineitem"]
    q = li.filter(F.col("l_shipdate") >= "1996-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:300]
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_comment" not in read_schema
    # only the projected + filtered columns reach the scan
    assert "l_extendedprice" in read_schema


def test_small_dim_join_is_broadcast(spark):
    t = load_tables(spark, SF, "nation", "customer")
    q = t["customer"].join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
    plan = _executed_plan(q)
    assert "BroadcastHashJoin" in plan


def test_repetition_stats_plan_has_no_exchange(spark):
    """The zero-shuffle claim, asserted on the executed plan."""
    from jibaro_spark.operators.textops import repetition_stats

    docs = load_tables(spark, SF, "documents")["documents"]
    plan = _executed_plan(repetition_stats(docs, "doc_id", "text"))
    assert "Exchange" not in plan, plan


def test_quantize_int8_plan_has_no_exchange(spark):
    from jibaro_spark.operators.similarity import quantize_int8

    emb = load_tables(spark, SF, "embeddings")["embeddings"]
    plan = _executed_plan(quantize_int8(emb, "vec_id", "embedding"))
    assert "Exchange" not in plan, plan


def test_decontamination_broadcasts_eval_side(spark):
    """The corpus side must NOT shuffle before the semi-join: the eval
    n-gram set is broadcast."""
    from jibaro_spark.operators.textops import ngram_contamination

    docs = load_tables(spark, SF, "documents")["documents"]
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    plan = _executed_plan(ngram_contamination(tr, ev, "doc_id", "text", n=4))
    assert "BroadcastHashJoin" in plan, plan
    # the only exchanges allowed: broadcast of eval grams + the final
    # per-doc aggregation; no SortMergeJoin over corpus n-grams
    assert "SortMergeJoin" not in plan, plan


def test_tpch_filter_pushdown_and_column_pruning(spark):
    """Selective predicates must reach the parquet scan and the scan
    must read only the projected columns (q6: 4 of lineitem's 16)."""
    import contextlib
    import io
    import re

    from jibaro_spark.queries import REGISTRY

    df = REGISTRY["q6_forecast_revenue"].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert pushed and "GreaterThanOrEqual(l_shipdate" in pushed.group(1), plan
    schema = re.search(r"ReadSchema: (.*)", plan)
    cols = re.findall(r"(\w+):", schema.group(1))
    assert set(cols) == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}, cols


def test_q21_rewrite_has_no_nested_loop_join(spark):
    """Q21's correlated EXISTS/NOT-EXISTS must compile to aggregates +
    window, never a non-equi anti-join (BroadcastNestedLoopJoin over
    lineitem² would be quadratic at scale)."""
    import contextlib
    import io

    from jibaro_spark.queries import REGISTRY

    df = REGISTRY["q21_straggler_suppliers"].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_pq_encode_codebook_join_is_broadcast(spark):
    """The per-subspace codebook join must be broadcast — the exploded
    subvector side never shuffles before scoring, and the only
    exchange is the final (id, sub)-keyed partial-agg reduce."""
    from jibaro_spark.operators.similarity import pq_encode

    emb = load_tables(spark, SF, "embeddings")["embeddings"]
    cb = (
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("sub"),
            F.col("vec_id").alias("cid"),
            F.slice(F.col("embedding"), F.col("sub") * 16 + 1, 16).alias("cvec"),
        )
    )
    plan = _executed_plan(pq_encode(emb, "vec_id", "embedding", cb, m=4, sub_dim=16))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bm25_stats_sides_are_broadcast(spark):
    """Term stats (3 rows) and the scalar doc stats must broadcast;
    the token table is the only shuffled side."""
    from jibaro_spark.queries.similarity import q_bm25_search

    plan = _executed_plan(q_bm25_search(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_winsorize_quantile_join_is_broadcast(spark):
    from jibaro_spark.queries.stat_models import q_winsorize_stats

    plan = _executed_plan(q_winsorize_stats(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_change_join_is_broadcast(spark):
    """SCD2 apply: the (CDC-batch-sized) change set should broadcast
    against the dimension scan — no dim-sized shuffle for the close-out
    join."""
    from jibaro_spark.operators.cdc import scd2_apply

    orders = load_tables(spark, SF, "orders")["orders"]
    dim = orders.select(
        "o_orderkey", "o_totalprice",
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    chg = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        F.lit("1998-12-01").cast("date").alias("eff"),
    )
    plan = _executed_plan(scd2_apply(dim, chg, ["o_orderkey"], "eff"))
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_agg_delta_join_shape(spark):
    """Incremental agg maintenance: the delta side collapses to one row
    per key BEFORE the merge join (partial aggregation), and the merge
    is a single key join — never a fact-table rescan."""
    from jibaro_spark.operators.cdc import incremental_agg_apply

    orders = load_tables(spark, SF, "orders")["orders"]
    agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(28,4)")).alias("total_spend"),
    )
    chg = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        F.lit("d").alias("op"), "o_custkey",
        F.col("o_totalprice").alias("before_total_spend"),
        F.lit(None).cast("double").alias("after_total_spend"),
    )
    out = incremental_agg_apply(agg, chg, ["o_custkey"], ["total_spend"])
    plan = _executed_plan(out)
    # one aggregate for the base, one for the delta, one merge join —
    # and the delta side shows a partial (map-side) aggregation
    assert "HashAggregate" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan


def test_cells_semdedup_groups_on_cell_and_blocks(spark):
    """Cell-partitioned near-dup kernel: ONE shuffle keyed by
    (cell, block-pair) feeding the Arrow kernel — no corpus-wide
    cartesian, no second vector shuffle."""
    from jibaro_spark.operators.similarity import (
        embedding_near_duplicates_cells,
        seed_centroids,
    )

    emb = load_tables(spark, SF, "embeddings")["embeddings"]
    cents = seed_centroids(emb, "vec_id", "embedding", 4)
    pairs = embedding_near_duplicates_cells(
        emb, "vec_id", "embedding", 0.92, centroids=cents, n_probe=1
    )
    plan = _executed_plan(pairs)
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2, plan  # group shuffle (+AQE reuse)


@pytest.mark.parametrize(
    "qname, max_exchanges",
    [
        # the two rank calls hand back their row counts (with_count=
        # True) instead of two more aggregates over the same scans:
        # 7 Exchanges before on this fixture
        ("q_quantile_normalize", 3),
        # the spend table is pinned and ranked once, N taken from the
        # rank call: 5 before
        ("q_lorenz_deciles", 1),
        # one shared routing probe over the pinned union frame; both
        # plain-routed carries hash-partition on the same key, so the
        # second reuses the first's exchange: 6 before
        ("q_asof_nearest", 2),
    ],
)
def test_probe_reuse_exchange_counts(spark, qname, max_exchanges):
    """Plan-shape claims of the shared routing probes, as Exchange
    counts in the executed plan at the test fixture (the formatted
    plans double each: 14 → 6, 10 → 2, 12 → 4)."""
    from jibaro_spark.queries import REGISTRY

    plan = _executed_plan(REGISTRY[qname].fn(spark, SF))
    assert plan.count("Exchange") <= max_exchanges, plan


def test_rrf_lists_are_take_ordered(spark):
    """RRF hybrid retrieval: both top-100 lists must be TakeOrdered
    (per-partition top-k + k-row merge), never a global Sort of the
    corpus."""
    from jibaro_spark.queries import REGISTRY

    df = REGISTRY["q_rrf_hybrid_search"].fn(spark, SF)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_shufflehash_hint_picks_shuffled_hash_join(spark):
    """q_shufflehash_join pins the third physical join strategy: the
    SHUFFLE_HASH hint must yield ShuffledHashJoin (no sort of either
    side), with broadcast disabled so AQE can't upgrade the small
    fixture dim to a broadcast."""
    from jibaro_spark.queries.relational import q_shufflehash_join

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _executed_plan(q_shufflehash_join(spark, SF))
        assert "ShuffledHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_runtime_bloom_filter_injection(spark):
    """At 100 TB a selective dim-side filter should prune the fact scan
    before the shuffle via Spark's runtime bloom filter
    (InjectRuntimeFilter).  The injection thresholds are sized for
    real clusters (10 GB application-side scans), so at fixture scale
    we lower them to put the fixture join INTO the size regime the
    rule targets — pinning that the engine's sessions have the rule
    live and the plan carries bloom_filter_agg → might-contain, and
    that results are row-identical with the filter on and off."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}

    def q():
        l = load_tables(spark, SF, "lineitem")["lineitem"]
        o = load_tables(spark, SF, "orders")["orders"].filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = q()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        with_bloom = sorted(map(tuple, df.collect()))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    without_bloom = sorted(map(tuple, q().collect()))
    assert with_bloom == without_bloom


def test_mad_outlier_median_joins_are_broadcast(spark):
    """q_mad_outliers joins the full event stream against per-type
    median tables (one row per type) — both must be broadcast, never a
    shuffle of the stream onto a 5-row dimension."""
    from jibaro_spark.queries.stat_tests import q_mad_outliers

    plan = _executed_plan(q_mad_outliers(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_type_jaccard_is_inverted_index_join(spark):
    """q_type_jaccard builds candidates by shared user id (equi-join),
    never a cartesian cohort product; the size dimension is broadcast."""
    from jibaro_spark.queries.similarity import q_type_jaccard

    plan = _executed_plan(q_type_jaccard(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_equidepth_ntile_has_no_single_partition_window(spark, monkeypatch):
    """The distributed-NTILE shape is COST-ROUTED (r12): above the
    single-task sort floor the plan must range-partition (the
    global-ORDER-BY shape) with every Window carrying a partition key;
    at test scale the probe routes the native NTILE window (a
    deliberate single-task stage for an under-floor input).  The
    at-scale regime is pinned by dropping the floor."""
    import jibaro_spark.operators.relational as rel
    from jibaro_spark.queries.relational import q_equidepth_histogram

    # test-scale default: the size probe routes the native window
    plan = _executed_plan(q_equidepth_histogram(spark, SF))
    assert "ntile" in plan.lower()
    # above the floor (forced): range-partitioned, no partitionless
    # Window anywhere — the property that survives a 100x scale-up
    monkeypatch.setattr(rel, "_CARRY_PLAIN_MAX_ABS", 0)
    plan = _executed_plan(q_equidepth_histogram(spark, SF))
    assert "rangepartitioning" in plan.lower()
    # the row-number Window is partitioned by the range-partition id —
    # NO exchange in the whole plan may collapse to one partition
    assert "SinglePartition" not in plan
    assert "Window" in plan


@pytest.mark.parametrize("qname", ["q_burst_dedup", "q_markov_transitions"])
def test_event_sequence_windows_are_key_partitioned(spark, qname):
    """The event-sequence queries' corpus-sized windows run inside the
    (user[,type]) shuffle — nothing in the plan may collapse the event
    stream into one partition (the final ORDER BY of the tiny result
    is rangepartitioned, not single)."""
    from jibaro_spark.queries import REGISTRY

    plan = _executed_plan(REGISTRY[qname].fn(spark, SF))
    assert "SinglePartition" not in plan
