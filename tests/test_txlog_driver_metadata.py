"""Txlog metadata served from the log on the driver: the history row's
snapshot stats and the snapshot schema (the ``metaData`` action) need
no Spark job, and logs without the action still read through footer
inference."""

from __future__ import annotations

import datetime
import decimal
import json
import os

import pytest
from pyspark.sql import functions as F

from jibaro_spark import txlog
from jibaro_spark.catalog import Catalog, TableRef
from jibaro_spark.config import Settings
from jibaro_spark.maintenance import append_history_metrics

REF = TableRef("curated", "proj", "db", "meta_tbl")


def _jobs(spark, group: str, action) -> int:
    """Spark jobs ``action`` submits, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _overwrites(spark, path: str, n: int) -> None:
    for i in range(n):
        txlog.write_versioned(
            spark.range(i, i + 5, numPartitions=1).select(F.col("id").alias("v")),
            path,
            mode="overwrite",
        )


@pytest.fixture()
def lake(tmp_path):
    return Catalog(Settings(protocol="file", base_path=str(tmp_path)))


def test_history_stats_describe_the_snapshot(spark, lake):
    """numFiles/sizeBytes count the live snapshot, not the directory's
    not-yet-vacuumed files of earlier versions."""
    path = lake.path(REF)
    _overwrites(spark, path, 3)
    append_history_metrics(spark, lake, REF, operation="MERGE")
    row = spark.read.parquet(lake.history_path(REF)).first()
    assert row["version"] == 2 and row["operation"] == "OVERWRITE"
    assert row["numFiles"] == len(txlog.snapshot_files(path)) == 1
    assert row["sizeBytes"] == txlog.snapshot_bytes(path)


def test_history_append_runs_no_spark_job(spark, lake):
    _overwrites(spark, lake.path(REF), 1)
    n = _jobs(
        spark,
        "test/history_append",
        lambda: append_history_metrics(
            spark, lake, REF, operation="MERGE", extra={"batchId": "0"}
        ),
    )
    assert n == 0
    row = spark.read.parquet(lake.history_path(REF)).first()
    assert row["batchId"] == "0" and row["numFiles"] == 1
    assert not [
        f for f in os.listdir(lake.history_path(REF)) if f.startswith(".")
    ]


def test_read_versioned_builds_with_no_spark_job(spark, lake):
    path = lake.path(REF)
    _overwrites(spark, path, 2)
    n = _jobs(spark, "test/read_versioned", lambda: txlog.read_versioned(spark, path))
    assert n == 0
    assert sorted(
        r["v"] for r in txlog.read_versioned(spark, path).collect()
    ) == [1, 2, 3, 4, 5]


def _typed_frame(spark):
    """The txlog tests' column types plus nested, decimal, temporal,
    map and binary columns; ``id``, ``s.b``, the ``arr`` elements and
    the ``m2`` values are non-nullable in ``df.schema``."""
    rows = [
        (
            i, f"n{i}", i * 0.5, decimal.Decimal(f"{i}.25"),
            datetime.datetime(2024, 1, 1 + i, 12), datetime.date(2024, 2, 1 + i),
            bool(i % 2), bytearray(b"x" * i), {"k": i},
        )
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows,
        "v long, name string, w double, d decimal(12,2), ts timestamp, day date, "
        "flag boolean, raw binary, m map<string,int>",
    )
    return df.select(
        F.col("v").cast("int").alias("i"),
        "*",
        F.struct(F.col("v").alias("a"), F.lit("b").alias("b")).alias("s"),
        F.array(F.lit(1), F.lit(2)).alias("arr"),
        F.array(F.struct(F.col("w").alias("x"))).alias("arr_s"),
        F.create_map(F.lit("k"), F.lit(1)).alias("m2"),
    ).withColumn("id", F.monotonically_increasing_id())


def _log_lines(path: str) -> dict[str, list[dict]]:
    d = os.path.join(path, txlog.LOG_DIR)
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json") and not f.startswith("_"):
            with open(os.path.join(d, f)) as fh:
                out[f] = [json.loads(line) for line in fh if line.strip()]
    return out


def _metadata(path: str, name: str) -> list[dict]:
    return [a["metaData"] for a in _log_lines(path)[name] if "metaData" in a]


def test_recorded_schema_equals_footer_inference(spark, tmp_path):
    path = str(tmp_path / "typed")
    df = _typed_frame(spark)
    assert not df.schema["id"].nullable
    assert not df.schema["arr"].dataType.containsNull
    txlog.write_versioned(df, path)
    txlog.write_versioned(df, path)  # an append with the same schema
    assert _metadata(path, f"{1:020d}.json")[0]["schema"] is not None
    got = txlog.read_versioned(spark, path)
    inferred = spark.read.parquet(*txlog.snapshot_files(path))
    assert got.schema == inferred.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, inferred.collect()))


def test_log_without_metadata_reads_by_inference(spark, tmp_path):
    """A log written before the ``metaData`` action existed (here: one
    stripped of it, checkpoint included) reads through footer
    inference — one job — with the same schema and rows."""
    path = str(tmp_path / "old")
    df = _typed_frame(spark)
    for _ in range(11):  # crosses the v10 checkpoint
        txlog.write_versioned(df, path, mode="overwrite")
    want = txlog.read_versioned(spark, path)
    schema, rows = want.schema, sorted(map(str, want.collect()))
    d = os.path.join(path, txlog.LOG_DIR)
    for name, actions in _log_lines(path).items():
        with open(os.path.join(d, name), "w") as fh:
            for a in actions:
                if "metaData" not in a:
                    fh.write(json.dumps(a) + "\n")
    assert all(
        "metaData" not in a for acts in _log_lines(path).values() for a in acts
    )
    n = _jobs(spark, "test/read_legacy", lambda: txlog.read_versioned(spark, path))
    assert n == 1
    got = txlog.read_versioned(spark, path)
    assert got.schema == schema
    assert sorted(map(str, got.collect())) == rows


def test_schema_change_records_null_until_overwrite(spark, tmp_path):
    """An append with a different schema records ``{"schema": null}``
    (reads infer from footers), a later overwrite records the schema
    again, and a checkpoint carries the newest one forward."""
    path = str(tmp_path / "evolve")
    base = spark.range(3).select(F.col("id").alias("v"))
    txlog.write_versioned(base, path)
    txlog.write_versioned(base.withColumn("extra", F.lit("x")), path)
    assert _metadata(path, f"{1:020d}.json") == [{"schema": None}]
    assert txlog.read_versioned(spark, path).count() == 6
    for _ in range(9):  # v2..v10: the v10 commit writes a checkpoint
        txlog.write_versioned(base, path, mode="overwrite")
    (meta,) = _metadata(path, f"{10:020d}.checkpoint.json")
    assert meta["schema"]["fields"][0]["name"] == "v"
    # the next commit is replayed on top of the checkpoint
    txlog.write_versioned(base, path)
    n = _jobs(spark, "test/read_ckpt", lambda: txlog.read_versioned(spark, path))
    assert n == 0
    assert txlog.read_versioned(spark, path).count() == 6
