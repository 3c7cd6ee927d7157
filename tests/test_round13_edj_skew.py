"""Round-13 skew-safety guards for ``edit_distance_join``'s block path.

The blocked candidate join runs behind ``dense_exchange``, which opts
out of AQE skew-splitting; r13 adds a per-block count probe and an a×b
deterministic salt grid for the blocks past the hot-block bound so a
skewed block key cannot hot-spot a single task with the quadratic
verify (VERDICT r12 #4/#7).  Pinned here, on a fixture whose hottest
block holds 50% of both sides:

* the probe decision: balanced blocks → dense route; the 50%-hot key
  (with the absolute floor lowered to test scale) → grid route;
* pair-set identity: grid-salted join ≡ plain block equi-join ≡ the
  dense route (forced by raising the floor past every block),
  end-to-end through ``edit_distance_join``;
* pair identity also when the two sides' block keys differ in type
  (``int`` against ``bigint``);
* spread: under the grid the hot block's pair fan-out lands on many
  partitions (max per-partition rows ≪ the hot block's full product —
  the unsalted exchange puts ALL of it in one partition);
* layout: each of the hot block's a·b cells has its own exchange
  partition, rows of the other blocks cross the exchange once, and the
  join plans one shuffle per side.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import jibaro_spark.operators.dedup as dd


def _pairs(df):
    return sorted((r["lid"], r["rid"]) for r in df.select("lid", "rid").collect())


def test_grid_triggers_and_matches_plain(monkeypatch, hot_sides):
    l, r = hot_sides
    monkeypatch.setattr(dd, "_EDJ_BLOCK_MAX_ABS", 100)
    out = dd._block_join_skew_safe(l, r, "lid", "rid")
    # the salt columns must not leak
    assert set(out.columns) == {"lid", "__ls", "__blk", "rid", "__rs"}
    expected = _pairs(l.join(r, ["__blk"]))
    got = _pairs(out)
    # hot product + 50 balanced blocks of 4x4
    assert got == expected and len(got) == 200 * 200 + 4 * 4 * 50


def test_grid_spreads_hot_block(monkeypatch, hot_sides, spark):
    l, r = hot_sides
    monkeypatch.setattr(dd, "_EDJ_BLOCK_MAX_ABS", 100)
    # force the shuffle join (at test scale the planner broadcasts one
    # side, which has no skew problem — the grid exists for the 100 TB
    # shuffle case)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dd._block_join_skew_safe(l, r, "lid", "rid")
        pid_counts = [
            row["c"]
            for row in out.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    hot_product = 200 * 200
    # the unsalted exchange puts the whole hot product in ONE partition;
    # the grid must spread it over many
    assert max(pid_counts) < hot_product / 4
    assert len(pid_counts) > 4


def _shuffle_records(spark, after_stage: int) -> tuple[int, int]:
    """Highest stage id and the shuffle records written by stages past
    ``after_stage``, from Spark's status store."""
    ctx = spark.sparkContext
    sc = ctx._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    no_quantiles = ctx._gateway.new_array(ctx._jvm.double, 0)
    stages = sc.statusStore().stageList(None, False, False, no_quantiles, None)
    top, written = after_stage, 0
    for i in range(stages.size()):
        st = stages.apply(i)
        top = max(top, st.stageId())
        if st.stageId() > after_stage:
            written += st.shuffleWriteRecords()
    return top, written


def test_grid_cells_own_partitions_cold_rows_once(monkeypatch, hot_sides, spark):
    l, r = hot_sides
    monkeypatch.setattr(dd, "_EDJ_BLOCK_MAX_ABS", 100)
    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    a = math.isqrt(n)
    b = n // a
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dd._block_join_skew_safe(l, r, "lid", "rid")
        plan = out._jdf.queryExecution().executedPlan().toString()
        top, _ = _shuffle_records(spark, -1)
        out.write.format("noop").mode("overwrite").save()
        _, written = _shuffle_records(spark, top)
        cell = F.pmod(F.xxhash64("lid"), F.lit(a)) * b + F.pmod(
            F.xxhash64("rid"), F.lit(b)
        )
        placed = (
            out.filter(F.col("__blk") == "hot")
            .select(cell.alias("cell"), F.spark_partition_id().alias("p"))
            .distinct()
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # every cell on one partition, no two cells on the same one
    assert len(placed) == a * b
    assert len({row["cell"] for row in placed}) == a * b
    assert len({row["p"] for row in placed}) == a * b
    # 200 hot rows a side: the left replicated over b columns, the
    # right over a rows; the 200 rows of the other blocks go once each
    assert written == 200 * b + 200 * a + 200 + 200
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 2 and all("__cell" in ln for ln in exchanges), plan


def test_grid_matches_plain_across_block_key_types(monkeypatch, hot_sides, spark):
    # an int left block key against a bigint right one: the union widens
    # to bigint, and the grid must place and join both sides on it
    l, r = hot_sides
    num = F.when(F.col("__blk") == "hot", 0).otherwise(
        F.regexp_extract("__blk", r"\d+", 0).cast("int") + 1
    )
    l = l.withColumn("__blk", num)
    r = r.withColumn("__blk", num.cast("long"))
    monkeypatch.setattr(dd, "_EDJ_BLOCK_MAX_ABS", 100)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dd._block_join_skew_safe(l, r, "lid", "rid")
        got = _pairs(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    expected = _pairs(l.join(r, ["__blk"]))
    assert got == expected and len(got) == 200 * 200 + 4 * 4 * 50


def test_balanced_blocks_keep_dense_route(monkeypatch, spark):
    l = spark.createDataFrame(
        [(i, f"s{i}", f"b{i % 20}") for i in range(200)],
        "lid long, __ls string, __blk string",
    )
    r = spark.createDataFrame(
        [(1000 + i, f"s{i}", f"b{i % 20}") for i in range(200)],
        "rid long, __rs string, __blk string",
    )
    monkeypatch.setattr(dd, "_EDJ_BLOCK_MAX_ABS", 100)
    out = dd._block_join_skew_safe(l, r, "lid", "rid")
    # balanced: no salt replication — row count is the exact block join
    assert out.count() == l.join(r, ["__blk"]).count()
    assert _pairs(out) == _pairs(l.join(r, ["__blk"]))


def test_end_to_end_regimes_identical(monkeypatch, spark):
    words = ["alpha", "alphq", "beta", "betta", "gamma", "gamna", "delta"]
    rows = [
        (i, words[i % len(words)] + ("x" if i % 11 == 0 else ""), "hot" if i % 2 else f"b{i % 9}")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, s string, blk string")
    left = df.select(F.col("id").alias("a_id"), F.col("s").alias("a_s"), F.col("blk").alias("a_b"))
    right = df.select(F.col("id").alias("b_id"), F.col("s").alias("b_s"), F.col("blk").alias("b_b"))

    def run(floor):
        monkeypatch.setattr(dd, "_EDJ_BLOCK_MAX_ABS", floor)
        out = dd.edit_distance_join(
            left, right, "a_id", "b_id", "a_s", "b_s",
            max_dist=1, block_on=("a_b", "b_b"),
        )
        return sorted(
            (r["a_id"], r["b_id"], r["dist"], r["block"]) for r in out.collect()
        )

    grid = run(50)  # the 150-row hot block trips the grid
    dense = run(10**9)  # no block reaches the floor: dense route
    assert grid == dense
    assert grid  # non-vacuous
