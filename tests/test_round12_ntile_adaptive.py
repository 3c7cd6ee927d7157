"""Round-12 guards for the cost-based plain-window routing of
``ntile_exact`` and ``global_row_number``.

The chunked NTILE (range repartition + eager checkpoint + per-chunk
offset collect) is the scale form — it never funnels a corpus into a
single-task window — but it costs 3 jobs per call on inputs that
would sort in one task for ~nothing (q_rfm_segments would pay it three
times).  A groupless ``size_route`` probe (one ``count()``) routes
inputs under the single-task sort floor (``_CARRY_PLAIN_MAX_ABS``)
through the native ``NTILE(k)`` window.  Pinned here:

* bit-identical output across the two regimes (same input, default
  bounds vs the ``chunked_route`` bounds) for several k, including
  n % k != 0, k > n, and k = 1;
* identical schemas across regimes;
* the routing: a small input takes the native window (``ntile``
  appears in the plan), a lowered floor forces the chunked route back
  (no ``ntile`` node — the bucket arithmetic form).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import jibaro_spark.operators.relational as rel


@pytest.fixture(scope="module")
def frame(spark):
    # 103 rows: ties on v (broken by id), negatives, a skewed value
    rows = [(i, (i * 7) % 13 if i % 9 else 0) for i in range(103)]
    return spark.createDataFrame(rows, "id int, v int")


def _ntile(chunked_route, df, k, plain: bool):
    with chunked_route(not plain):
        return rel.ntile_exact(df, k, ["v", "id"], out_col="b")


def _buckets(chunked_route, df, k, plain: bool):
    out = _ntile(chunked_route, df, k, plain)
    return sorted((r["id"], r["b"]) for r in out.collect())


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("k", [1, 4, 7, 10, 500])
def test_plain_equals_chunked(spark, frame, chunked_route, k):
    """THE invariant: same input, both regimes, identical buckets —
    k=500 > n covers the degenerate more-buckets-than-rows case."""
    assert _buckets(chunked_route, frame, k, True) == _buckets(
        chunked_route, frame, k, False
    )


def test_schema_identical_across_regimes(spark, frame, chunked_route):
    a = _ntile(chunked_route, frame, 4, True)
    b = _ntile(chunked_route, frame, 4, False)
    assert a.schema == b.schema


def test_matches_native_ntile(spark, frame, chunked_route):
    """Both routes must equal Spark's own NTILE (the SQL definition)."""
    from pyspark.sql.window import Window

    w = Window.orderBy("v", "id")
    native = sorted(
        (r["id"], r["b"])
        for r in frame.withColumn("b", F.ntile(7).over(w).cast("long")).collect()
    )
    assert _buckets(chunked_route, frame, 7, True) == native
    assert _buckets(chunked_route, frame, 7, False) == native


def test_routing(spark, frame, monkeypatch):
    def ntile():
        return rel.ntile_exact(frame, 4, ["v", "id"], out_col="b")

    # small input → native ntile window in the plan
    assert "ntile(" in _plan(ntile())
    # the floor forces the chunked route (bucket arithmetic, no ntile);
    # the share bound alone never passes a groupless probe
    monkeypatch.setattr(rel, "_CARRY_PLAIN_MAX_ABS", 10)
    assert "ntile(" not in _plan(ntile())


def _row_numbers(chunked_route, df, plain: bool):
    with chunked_route(not plain):
        return rel.global_row_number(df, ["v", "id"], out_col="rn")


def _ranks(chunked_route, df, plain: bool):
    out = _row_numbers(chunked_route, df, plain)
    return sorted((r["id"], r["rn"]) for r in out.collect())


def test_row_number_plain_equals_chunked(spark, frame, chunked_route):
    """Same invariant for global_row_number's routes."""
    assert _ranks(chunked_route, frame, True) == _ranks(chunked_route, frame, False)


def test_row_number_schema_and_route(spark, frame, chunked_route, monkeypatch):
    a = _row_numbers(chunked_route, frame, True)
    b = _row_numbers(chunked_route, frame, False)
    assert a.schema == b.schema
    # the chunked route stamps and re-partitions by the range-chunk id
    # __gpid; the plain route is a bare window over the input
    assert "__gpid" not in _plan(a)
    assert "__gpid" in _plan(b)
    # the floor forces the chunked route back
    monkeypatch.setattr(rel, "_CARRY_PLAIN_MAX_ABS", 10)
    assert "__gpid" in _plan(
        rel.global_row_number(frame, ["v", "id"], out_col="rn")
    )


def test_with_count_matches_input(spark, frame, chunked_route):
    """``with_count=True`` hands back the probe's total (plain route)
    or the per-partition count sum (chunked route) — both equal N."""
    for plain in (True, False):
        with chunked_route(not plain):
            _, n = rel.global_row_number(
                frame, ["v", "id"], out_col="rn", with_count=True
            )
        assert n == 103


def test_empty_input_both_regimes(spark, chunked_route):
    # an empty frame's biggest group is 0 rows, within even the forced
    # bounds (floor -1, share 0 → bound 0)
    empty = spark.createDataFrame([], "id int, v int")
    for plain in (True, False):
        out = _ntile(chunked_route, empty, 4, plain)
        assert "ntile(" in _plan(out)
        assert out.count() == 0
        assert dict(out.dtypes)["b"] == "bigint"
