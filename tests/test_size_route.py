"""Guards for ``size_route``, the one group-size probe behind every
probe-then-route operator (carry / prefix-sum, global row number and
NTILE, the edit-distance block join).  Pinned here:

* the decision and the counts behind it on a balanced and a hot frame,
  and for the groupless form (whole frame = one group) including an
  empty frame;
* the ``per=`` form agrees with the edit-distance join's former inline
  rule (hot iff a side's biggest block exceeds BOTH the floor and the
  share bound) across floors around the hot block's size;
* ``hot_keys=True`` returns exactly the groups over their own ``per``
  value's bound, and nothing on the plain route;
* the groupless probe runs no more Spark jobs than ``df.count()``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jibaro_spark.operators.util import Route, size_route


def _frame(spark, kind: str, hot_sides):
    """(frame, share, n_parts) for one fixture kind."""
    if kind == "edj":
        l, r = hot_sides
        blocks = l.select("__blk").withColumn("__s", F.lit(0)).unionByName(
            r.select("__blk").withColumn("__s", F.lit(1))
        )
        return blocks, 2.0, 8
    # 8 groups x 40 rows, plus a hot group of 2000 rows for "hot"
    rows = [] if kind == "empty" else [(f"g{g}", i) for g in range(8) for i in range(40)]
    rows += [("hot", i) for i in range(2000 if kind == "hot" else 0)]
    return spark.createDataFrame(rows, "k string, t int"), 0.5, 4


def _old_edj_plain(blocks, floor: int, share: float, n_parts: int) -> bool:
    """The edit-distance join's inline probe before ``size_route``."""
    stats = (
        blocks.groupBy("__s", "__blk")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__s")
        .agg(F.max("__c").alias("mx"), F.sum("__c").alias("n"))
        .collect()
    )
    return not any(
        (row["mx"] or 0) > floor and (row["mx"] or 0) > share * (row["n"] or 0) / n_parts
        for row in stats
    )


@pytest.mark.parametrize(
    "kind, groups, floor, per, expected",
    [
        # biggest group 40 of 320: under the floor → plain
        ("balanced", ["k"], 100, (), Route(True, 40, 320, 100.0)),
        # hot group 2000 of 2320: over the floor and over half a
        # 4-partition share (290) → chunked
        ("hot", ["k"], 100, (), Route(False, 2000, 2320, 290.0)),
        # groupless: one group of every row; only the floor can pass it
        ("balanced", (), 100, (), Route(False, 320, 320, 100.0)),
        ("empty", (), 100, (), Route(True, 0, 0, 100.0)),
        ("empty", (), -1, (), Route(True, 0, 0, 0.0)),
        # per side: the hot block holds 200 of 400 rows on each side;
        # share bound 2.0 * 400 / 8 = 100
        ("edj", ["__blk"], 100, ["__s"], Route(False, 200, 400, 100.0)),
        ("edj", ["__blk"], 199, ["__s"], Route(False, 200, 400, 199.0)),
        ("edj", ["__blk"], 200, ["__s"], Route(True, 200, 400, 200.0)),
        ("edj", ["__blk"], 10**6, ["__s"], Route(True, 200, 400, 1e6)),
    ],
)
def test_size_route(spark, hot_sides, kind, groups, floor, per, expected):
    df, share, n_parts = _frame(spark, kind, hot_sides)
    route = size_route(
        df, groups, max_abs=floor, share=share, n_parts=n_parts, per=per
    )
    assert route == expected
    if per:
        assert route.plain == _old_edj_plain(df, floor, share, n_parts)


def _jobs(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_groupless_probe_jobs_match_count(spark, hot_sides):
    df, _, _ = _frame(spark, "hot", hot_sides)
    df = df.filter(F.col("t") % 3 != 0)
    n_count = _jobs(spark, "size_route/count", df.count)
    n_probe = _jobs(
        spark,
        "size_route/probe",
        lambda: size_route(df, (), max_abs=-1, share=0, n_parts=4),
    )
    assert n_count >= 1
    assert n_probe <= n_count
    assert size_route(df, (), max_abs=-1, share=0, n_parts=4).total == df.count()


def test_size_route_hot_keys(spark):
    # side 0: "x" (300 of 400 rows) is over its bound 2.0 * 400 / 8 =
    # 100, "y" (60) is not; side 1 holds 2 rows a group, under its
    # floor of 50, so its "y" is not listed either
    rows = [(0, "x")] * 300 + [(0, "y")] * 60 + [(0, f"g{i}") for i in range(40)]
    rows += [(1, "y")] * 2 + [(1, f"h{i}") for i in range(2)]
    df = spark.createDataFrame(rows, "s int, k string")
    route = size_route(df, ["k"], max_abs=50, share=2.0, n_parts=8, per=["s"], hot_keys=True)
    assert not route.plain and [tuple(h) for h in route.hot] == [("x",)]
    plain = size_route(df, ["k"], max_abs=10**6, share=2.0, n_parts=8, per=["s"], hot_keys=True)
    assert plain.plain and plain.hot == ()
