"""Round-12 guards for the cost-based plain-window routing of
``grouped_running_carry``.

The chunked carry (range partition + per-chunk carries + stitch join)
is hot-key insurance; round 12 adds a construction-time group-size
probe (now ``size_route`` over ``_CARRY_PLAIN_MAX_ABS`` /
``_CARRY_PLAIN_SHARE``, its decision passed as ``route_plain=``) that
routes balanced inputs through plain ``Window.partitionBy(group)``
windows instead — measured ~2× cheaper at sf0.1 where no group is
hot.  Pinned here:

* the routing decision: balanced input → plain, one dominant group
  (with the absolute floor lowered so a test-sized corpus can trip
  it) → chunked;
* bit-identical output across the two regimes on the same input, for
  all three carry kinds at once (fwd last, reversed last, running
  sum) including NULL values, a NULL group key, and all-NULL prefixes
  (the running-sum NULL contract).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import jibaro_spark.operators.relational as rel
from jibaro_spark.operators.util import size_route


@pytest.fixture(scope="module")
def balanced(spark):
    rows = []
    for g in range(8):
        for i in range(40):
            rows.append(
                (
                    f"g{g}" if g else None,  # one NULL group key
                    i,
                    None if (i + g) % 5 == 0 else i * 10 + g,
                    None if i < 3 else i,  # all-NULL prefix for sums
                )
            )
    return spark.createDataFrame(rows, "k string, t int, v int, s int")


def _run(df, route_plain):
    out = rel.grouped_running_carry(
        df,
        ["k"],
        [F.col("t").asc()],
        last_cols=["v"],
        last_out=["lv"],
        sum_cols=["s"],
        sum_out=["ss"],
        rev_last_cols=["v"],
        rev_last_out=["rv"],
        route_plain=route_plain,
    )
    return sorted(
        (
            (r["k"], r["t"], r["v"], r["s"], r["lv"], r["rv"], r["ss"])
            for r in out.collect()
        ),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _carry_route(df):
    return size_route(
        df, ["k"], max_abs=rel._CARRY_PLAIN_MAX_ABS,
        share=rel._CARRY_PLAIN_SHARE, n_parts=4,
    )


def test_routing_decision(spark, balanced, monkeypatch):
    # balanced: biggest group 40 rows, far under the floor → plain
    assert _carry_route(balanced).plain
    hot = balanced.unionByName(
        spark.range(2000).select(
            F.lit("hot").alias("k"),
            F.col("id").cast("int").alias("t"),
            F.col("id").cast("int").alias("v"),
            F.lit(1).cast("int").alias("s"),
        )
    )
    # hot group = 2000 of 2320 rows: over half a 4-partition fair
    # share; drop the absolute floor so test-sized data can trip it
    monkeypatch.setattr(rel, "_CARRY_PLAIN_MAX_ABS", 100)
    assert not _carry_route(hot).plain


def test_plain_equals_chunked(spark, balanced):
    """THE r12 invariant: same input, both regimes, identical rows —
    route_plain=True (what the probe picks: max group 40) vs
    route_plain=False (chunked)."""
    assert _run(balanced, True) == _run(balanced, False)


def test_schema_identical_across_regimes(spark, balanced):
    a = rel.grouped_running_carry(
        balanced, ["k"], [F.col("t").asc()], last_cols=["v"],
        last_out=["lv"], sum_cols=["s"], sum_out=["ss"],
        rev_last_cols=["v"], rev_last_out=["rv"], route_plain=True,
    )
    b = rel.grouped_running_carry(
        balanced, ["k"], [F.col("t").asc()], last_cols=["v"],
        last_out=["lv"], sum_cols=["s"], sum_out=["ss"],
        rev_last_cols=["v"], rev_last_out=["rv"], route_plain=False,
    )
    assert a.schema == b.schema


def test_prefix_sum_plain_equals_chunked(spark, balanced):
    """Same invariant for grouped_prefix_sum's plain route,
    including the total_cols lane and the running-sum NULL contract."""

    def run(route_plain):
        out = rel.grouped_prefix_sum(
            balanced, ["k"], ["t"], ["s", "v"], ["cs", "cv"],
            total_cols=["ts", "tv"], route_plain=route_plain,
        )
        return sorted(
            (
                (r["k"], r["t"], r["cs"], r["cv"], r["ts"], r["tv"])
                for r in out.collect()
            ),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    assert run(True) == run(False)
