"""Round-8 advisor/verdict fixes, each pinned by a regression test:

- delete_by_keys must keep NULL-keyed rows (3-valued ~isin would
  silently erase them);
- delete_by_keys must leave the _bloom sidecar USABLE after the
  rewrite (stale entries → false negatives on a second pass);
- the stats-path fallback must not degrade to a full-table rewrite
  when pruning legitimately excluded every file;
- streaming_bottomk_sample must tolerate NULL items;
- boruvka_mst must work on string node ids / non-long weights and
  return the documented (src, dst, w) columns;
- dtw_distance_pairs must enforce its bounded-key-domain contract;
- q_adaboost_round's cumulative-error scan must be chunk-parallel
  (grouped_prefix_sum), not a per-feature window (2-task stage).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from jibaro_spark.maintenance import (
    build_bloom_file_index,
    delete_by_keys,
    read_bloom_pruned,
)

SF = "/root/testdata/sf0.001"


def test_delete_keeps_null_keyed_rows(spark, tmp_path):
    out = str(tmp_path / "nullkeys")
    df = spark.range(0, 100).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("k"),
        (F.col("id") % 7).alias("v"),
    )
    df.repartition(1).write.mode("overwrite").parquet(out)
    stats = delete_by_keys(spark, out, "k", [5, 17])
    assert stats["rows_deleted"] == 2
    after = spark.read.parquet(out)
    # the 10 NULL-keyed rows live in the rewritten file and must survive
    assert after.filter(F.col("k").isNull()).count() == 10
    assert after.count() == 98


def test_delete_rebuilds_bloom_sidecar_for_second_pass(spark, tmp_path):
    out = str(tmp_path / "twopass")
    spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).repartition(1).write.mode("overwrite").parquet(out)
    build_bloom_file_index(spark, out, "k")
    s1 = delete_by_keys(spark, out, "k", [100])
    assert s1["rows_deleted"] == 1
    # second pass targets a key that now lives in a part-del-* file the
    # pre-fix (stale) sidecar had no entries for → false negative
    s2 = delete_by_keys(spark, out, "k", [200])
    assert s2["rows_deleted"] == 1
    after = spark.read.parquet(out)
    assert after.count() == 1998
    assert after.filter(F.col("k").isin([100, 200])).count() == 0
    # and a bloom-pruned point read still finds survivors (zero false
    # negatives contract holds across the rewrite)
    assert read_bloom_pruned(spark, out, "k", 300).count() == 1


def test_delete_stats_pruned_all_excluded_is_noop(spark, tmp_path):
    out = str(tmp_path / "rangeprune")
    spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).repartitionByRange(8, "k").write.mode("overwrite").parquet(out)
    # no bloom sidecar → footer min/max path; keys way outside every
    # file's range → pruning excludes ALL files → zero rewrites, not a
    # full-table rewrite
    stats = delete_by_keys(spark, out, "k", [1_000_000, 2_000_000])
    assert stats["rows_deleted"] == 0
    assert stats["files_rewritten"] == 0
    assert spark.read.parquet(out).count() == 4000


def test_streaming_bottomk_batch_tolerates_null_items(spark):
    from jibaro_spark.streaming.windows import streaming_bottomk_sample

    df = spark.createDataFrame(
        [("g1", "a"), ("g1", None), ("g1", "b"), ("g2", None)],
        "grp string, item string",
    )
    rows = streaming_bottomk_sample(df, "grp", "item", k=8).collect()
    items = {(r["grp"], r["item"]) for r in rows}
    assert items == {("g1", "a"), ("g1", "b")}  # NULLs dropped, no crash


def test_boruvka_string_ids_and_output_columns(spark):
    from jibaro_spark.operators.graph import boruvka_mst

    edges = spark.createDataFrame(
        [
            ("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 9.0),
            ("c", "d", 7.5),
        ],
        "u string, v string, cost double",
    )
    out = boruvka_mst(edges, "u", "v", "cost")
    assert out.columns == ["u", "v", "cost"]
    mst = {(r["u"], r["v"], r["cost"]) for r in out.collect()}
    assert mst == {("a", "b", 1.0), ("b", "c", 2.0), ("c", "d", 7.5)}


def test_dtw_pairs_key_domain_guard(spark):
    from jibaro_spark.operators.sequential import dtw_distance_pairs

    series = spark.range(0, 40).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.lit(0).alias("t"),
        F.lit(1.0).alias("v"),
    )
    with pytest.raises(ValueError, match="max_keys"):
        dtw_distance_pairs(series, "k", "t", "v", max_keys=10)
    # explicit override keeps the quadratic plan available on purpose
    out = dtw_distance_pairs(series, "k", "t", "v", max_keys=40)
    assert out.count() == 40 * 39 // 2


def test_adaboost_threshold_scan_is_chunk_parallel(spark):
    """r12 update: the cumulative scan is COST-ROUTED (a size_route
    probe picks grouped_prefix_sum's route) — at this tiny SF it takes the plain
    per-feature windows (allowed: the value domain is far under the
    hot-group bound), but with the bound forced down the chunked form
    must come back, pinning the 100 TB shape this test was written
    for (a cents-granular feature domain at scale trips the bound)."""
    import jibaro_spark.operators.relational as rel

    from jibaro_spark.queries import REGISTRY

    old = rel._CARRY_PLAIN_MAX_ABS
    try:
        rel._CARRY_PLAIN_MAX_ABS = 0  # with share-bound, forces chunked
        df = REGISTRY["q_adaboost_round"].fn(spark, SF)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the per-feature cumulative window (partition feat, order v)
        # would be a 2-task stage; grouped_prefix_sum's windows are
        # keyed by (__gpid, feat) locally and by feat over <=#chunks
        # offset rows
        assert not re.search(r"windowspecdefinition\(feat#\d+, v#", plan), plan
        # per-feature totals are a 2-row aggregate broadcast back, not
        # an unordered whole-feature window
        assert "BroadcastHashJoin" in plan
    finally:
        rel._CARRY_PLAIN_MAX_ABS = old
    # and the default bounds take the plain windows at this SF (the
    # r12 cost decision — identical output pinned in
    # test_round12_carry_adaptive.py)
    df2 = REGISTRY["q_adaboost_round"].fn(spark, SF)
    plan2 = df2._jdf.queryExecution().analyzed().toString()
    assert "__gpid" not in plan2


def test_dtw_monthly_twin_shape_and_integrality(spark):
    from jibaro_spark.queries import REGISTRY

    rows = REGISTRY["q_dtw_monthly_pairs"].fn(spark, SF).collect()
    assert len(rows) == 10  # C(5,2) priority pairs
    for r in rows:
        assert r["key_a"] < r["key_b"]
        # integer-count series → DTW is an exact integer in double
        assert r["dtw"] == int(r["dtw"]) and r["dtw"] >= 0.0
        assert r["n_a"] > 0 and r["n_b"] > 0


def test_grouped_prefix_sum_multi_column_one_pass(spark):
    from pyspark.sql.window import Window

    from jibaro_spark.operators.relational import grouped_prefix_sum

    df = spark.range(0, 500).select(
        (F.col("id") % 3).alias("g"),
        F.col("id").alias("i"),
        (F.col("id") % 11).alias("x"),
        (F.col("id") % 5).alias("y"),
    )
    got = grouped_prefix_sum(
        df, ["g"], ["i"], ["x", "y"], ["cx", "cy"], num_partitions=7
    )
    w = (
        Window.partitionBy("g")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.select(
        "g", "i",
        F.sum("x").over(w).alias("cx"), F.sum("y").over(w).alias("cy"),
    )
    assert got.select("g", "i", "cx", "cy").exceptAll(want).count() == 0
    assert want.exceptAll(got.select("g", "i", "cx", "cy")).count() == 0
    with pytest.raises(ValueError, match="value cols"):
        grouped_prefix_sum(df, ["g"], ["i"], ["x", "y"], "only_one")
