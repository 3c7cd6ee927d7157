"""``operators.util.local_frame``: driver-held rows reach Spark as a
local relation, with the values the list path gives them.

* Fidelity: for every type the package's driver-built frames carry,
  plus dates, timestamps under a non-UTC session zone, decimals, nulls
  and no rows at all, the helper's rows and schema equal
  ``spark.createDataFrame(<list>)``'s; ``array<float>`` values are
  bit-equal.
* Lineage: the outputs of the operators that build frames on the
  driver run no ``PythonRDD`` (no Python worker unpickling rows).
* Layout: ``local_frame`` is the package's only ``createDataFrame``
  call.
"""

from __future__ import annotations

import ast
import datetime
import os
import struct
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from jibaro_spark.operators.util import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jibaro_spark")

CASES = {
    "bloom_meta": ("num_bits int, num_hashes int", [(1 << 13, 3)]),
    "bloom_keys": ("__k bigint", [(1,), (None,), (-(2**62),)]),
    "string_keys": ("__blk string", [("hot",), ("",), (None,)]),
    "cells": (
        "__blk string, __cells array<bigint>",
        [("hot", [0, 7, 2**40]), ("b", []), ("c", None)],
    ),
    "components": ("node bigint, component bigint", [(1, 1), (2, 1), (10, 10)]),
    "pq_codebook": (
        "sub int, cid int, cvec array<float>",
        [(0, 0, [0.1, 1e-40, 3.4e38, -0.0]), (0, 1, [1 / 3, None]), (1, 0, [])],
    ),
    "mmr_picks": (
        "rank long, vec_id long, rel double, mmr_score double",
        [(1, 17, 0.9876543210123, 0.9876543210123), (2, 3, -0.5, float("inf"))],
    ),
    "dtw_pairs": ("key_a string, key_b string", [("1-URGENT", "2-HIGH")]),
    "bpe_merges": (
        "round int, left string, right string, freq long",
        [(1, "t", "h", 40), (2, "th", "e", 31)],
    ),
    "rule_row": (
        "rule string, n_rows long, n_violations long, pass boolean",
        [("fk_order_exists", 600, 0, True), ("x", 1, 1, False)],
    ),
    "doubles": ("i int, v double", [(i, 0.5) for i in range(1, 5)]),
    "dates": (
        "d date, e date",
        [(datetime.date(1970, 1, 1), datetime.date(1992, 2, 29)),
         (datetime.date(1, 1, 1), None)],
    ),
    "timestamps": (
        "t timestamp, n timestamp_ntz",
        [
            (datetime.datetime(1998, 3, 29, 23, 59, 59, 123456),
             datetime.datetime(1998, 3, 29, 23, 59, 59, 123456)),
            (datetime.datetime(2021, 3, 14, 2, 30, tzinfo=datetime.timezone.utc), None),
            (datetime.datetime(1900, 1, 1), datetime.datetime(1900, 1, 1)),
        ],
    ),
    "decimals": (
        "x decimal(38,12), y decimal(10,2)",
        [
            (Decimal("1234567890123456.123456789012"), Decimal("-12345678.90")),
            (Decimal("0.5"), Decimal("3")),
            (None, Decimal("0.01")),
        ],
    ),
    "all_null": ("a int, b string, c array<float>, d date", [(None, None, None, None)]),
    "empty": ("o_orderkey bigint, o_totalprice double, op string", []),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_rows_match_list_path(spark, case):
    ddl, rows = CASES[case]
    tz = spark.conf.get("spark.sql.session.timeZone")
    # a non-UTC session zone: timestamps must still land on the same
    # instants, and render the same
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        got, want = local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        as_text = [F.col(c).cast("string") for c in got.columns]
        assert got.select(*as_text).collect() == want.select(*as_text).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_float_arrays_bit_equal(spark):
    ddl, rows = CASES["pq_codebook"]

    def bits(df):
        return [
            [None if x is None else struct.pack("<f", x) for x in r["cvec"]]
            for r in df.orderBy("sub", "cid").collect()
        ]

    assert bits(local_frame(spark, rows, ddl)) == bits(spark.createDataFrame(rows, ddl))


def _python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_driver_built_outputs_run_no_python_rdd(spark):
    from jibaro_spark.operators.graph import connected_components
    from jibaro_spark.operators.sequential import dtw_distance_pairs
    from jibaro_spark.operators.similarity import mmr_select, train_pq_codebook

    vecs = spark.range(12).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (j + 1) % 5).cast("float") for j in range(4)]).alias("v"),
        (F.col("id") / 12.0).alias("rel"),
    )
    series = spark.range(30).select(
        F.concat(F.lit("k"), F.col("id") % 3).alias("k"),
        (F.col("id") / 3).cast("int").alias("t"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    edges = spark.range(6).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    outs = {
        "mmr": mmr_select(vecs, "vec_id", "v", "rel", k=3),
        "dtw": dtw_distance_pairs(series, "k", "t", "v", band=2),
        "components": connected_components(edges),
        "pq": train_pq_codebook(vecs, "vec_id", "v", m=2, sub_dim=2, k=2),
    }
    assert {n: _python_rdd(df) for n, df in outs.items()} == dict.fromkeys(outs, False)
    # the list path these replaced ran one
    assert _python_rdd(spark.createDataFrame([(1,)], "a int"))


def test_local_frame_is_the_only_create_dataframe():
    calls = []
    for root, _, files in os.walk(PKG):
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read())
            # breadth-first: an enclosing function precedes its inner ones
            funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    owners = [f.name for f in funcs if f.lineno <= node.lineno <= f.end_lineno]
                    calls.append((os.path.relpath(path, PKG), owners[-1] if owners else None))
    assert calls == [(os.path.join("operators", "util.py"), "local_frame")]
