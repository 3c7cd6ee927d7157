"""Round-13 guards for asof_join's SHARED routing probe.

Round 13 gives ``asof_join`` ONE group-size probe over the pinned
union frame whose decision routes EVERY carry (``nearest`` runs two);
per-carry probes were a measured net loss there (VERDICT r12 #6).
Pinned here:

* bit-identical asof results across the two regimes (default bounds =
  plain-window routing on balanced keys; floor -1 / share 0 = the
  chunked carries) for all three directions, including NULL-time rows
  on both sides and ``how='left'`` unmatched rows;
* ``route_plain`` pass-through on ``grouped_running_carry`` /
  ``grouped_prefix_sum``: an explicit decision skips the probe and
  still produces the chunked/plain-identical values;
* the shared ``size_route`` decision over the carry bounds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import jibaro_spark.operators.relational as rel
from jibaro_spark.operators.util import size_route


@pytest.fixture(scope="module")
def sides(spark):
    lrows, rrows = [], []
    for k in range(6):
        for i in range(12):
            lrows.append((f"k{k}" if k else None, 100 + k * 1000 + i * 7, k * 100 + i))
        for j in range(15):
            # some right rows share timestamps with lefts (inclusive
            # semantics), one NULL-time right per key (fence)
            rrows.append(
                (
                    f"k{k}" if k else None,
                    None if j == 7 else 100 + k * 1000 + j * 5,
                    k * 1000 + j,
                )
            )
    left = spark.createDataFrame(lrows, "k string, lt long, lid long")
    right = spark.createDataFrame(rrows, "rk string, rt long, rid long")
    return left, right


def _run(chunked_route, left, right, direction, how, plain):
    with chunked_route(not plain):
        out = rel.asof_join(
            left,
            right,
            left_on="k",
            right_on="rk",
            left_time="lt",
            right_time="rt",
            right_tiebreak="rid",
            how=how,
            direction=direction,
        )
        return sorted(
            ((r["k"], r["lt"], r["lid"], r["rt"], r["rid"]) for r in out.collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("how", ["inner", "left"])
def test_asof_regimes_bit_identical(chunked_route, sides, direction, how):
    left, right = sides
    on = _run(chunked_route, left, right, direction, how, plain=True)
    off = _run(chunked_route, left, right, direction, how, plain=False)
    assert on == off
    assert on  # non-vacuous


def test_route_plain_passthrough_matches_probe(spark):
    rows = [(f"g{i % 4}", i, i * 3 if i % 5 else None) for i in range(80)]
    df = spark.createDataFrame(rows, "k string, t int, v int")
    base = rel.grouped_running_carry(
        df, ["k"], [F.col("t").asc()], last_cols=["v"], last_out=["lv"]
    )
    for route in (True, False):
        out = rel.grouped_running_carry(
            df,
            ["k"],
            [F.col("t").asc()],
            last_cols=["v"],
            last_out=["lv"],
            route_plain=route,
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, base.collect())
        )
    ps = rel.grouped_prefix_sum(
        df, ["k"], ["t"], "v", "cv", total_cols=["tv"]
    )
    for route in (True, False):
        out = rel.grouped_prefix_sum(
            df, ["k"], ["t"], "v", "cv", total_cols=["tv"], route_plain=route
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, ps.collect())
        )


def _carry_route(df, max_abs=None):
    return size_route(
        df, ["k"],
        max_abs=rel._CARRY_PLAIN_MAX_ABS if max_abs is None else max_abs,
        share=rel._CARRY_PLAIN_SHARE,
        n_parts=df.sparkSession.sparkContext.defaultParallelism,
    )


def test_shared_probe_decision_is_exposed(spark):
    balanced = spark.createDataFrame(
        [(f"g{i % 16}", i) for i in range(160)], "k string, t int"
    )
    assert _carry_route(balanced).plain is True
    # one dominant group past BOTH bounds (floor lowered like the r12
    # routing test does) → chunked
    hot = spark.createDataFrame(
        [("hot", i) for i in range(300)] + [(f"g{i}", i) for i in range(8)],
        "k string, t int",
    )
    assert _carry_route(hot, max_abs=100).plain is False
