"""Spark jobs that run while a DataFrame is being built, counted by
job group: a re-load of an unchanged fixture file reuses its inferred
schema (no job), a rewritten one is inferred again, and
``dtw_distance_pairs`` probes its keys once."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from jibaro_spark.queries.registry import load_tables

#: ``dtw_distance_pairs`` at construction: one ``distinct`` key probe
#: under AQE (its shuffle map stage and the result stage)
DTW_CONSTRUCT_JOBS = 2


def _jobs(spark, group: str, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _load(spark, sf, name, group):
    return _jobs(spark, group, lambda: load_tables(spark, str(sf), name)[name])


@pytest.mark.parametrize("table", ["nation", "events"])
def test_reload_of_unchanged_file_runs_no_job(spark, sf_dir, tmp_path, table):
    shutil.copyfile(os.path.join(sf_dir, f"{table}.parquet"), tmp_path / f"{table}.parquet")
    n1, first = _load(spark, tmp_path, table, f"reload-{table}-1")
    n2, second = _load(spark, tmp_path, table, f"reload-{table}-2")
    assert (n1, n2) == (1, 0)
    # the same frame, events.ts conversion included
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())
    if table == "events":
        assert second.schema["ts"].dataType.simpleString() == "timestamp"


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert _load(spark, tmp_path, "t", "rewrite-1")[0] == 1
    assert _load(spark, tmp_path, "t", "rewrite-2")[0] == 0

    # new size: a new column
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    n, df = _load(spark, tmp_path, "t", "rewrite-3")
    assert (n, df.columns, df.count()) == (1, ["a", "b"], 2)

    # same bytes, new mtime_ns
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert _load(spark, tmp_path, "t", "rewrite-4")[0] == 1
    assert _load(spark, tmp_path, "t", "rewrite-5")[0] == 0


def test_parquet_conf_change_is_inferred_again(spark, tmp_path):
    pq.write_table(pa.table({"a": [1]}), tmp_path / "c.parquet")
    assert _load(spark, tmp_path, "c", "conf-1")[0] == 1
    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try:
        assert _load(spark, tmp_path, "c", "conf-2")[0] == 1
    finally:
        spark.conf.unset(key)
    # one schema per path: the one inferred under the last confs
    assert _load(spark, tmp_path, "c", "conf-3")[0] == 1
    assert _load(spark, tmp_path, "c", "conf-4")[0] == 0


def test_dtw_construction_job_count(spark):
    from jibaro_spark.operators.sequential import dtw_distance_pairs

    series = spark.range(60).select(
        F.concat(F.lit("k"), F.col("id") % 4).alias("k"),
        (F.col("id") / 4).cast("int").alias("t"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    n, out = _jobs(spark, "dtw-construct", lambda: dtw_distance_pairs(series, "k", "t", "v"))
    assert n == DTW_CONSTRUCT_JOBS
    assert out.count() == 4 * 3 // 2
    # the bound holds on the same one probe
    n, _ = _jobs(
        spark,
        "dtw-refuse",
        lambda: pytest.raises(ValueError, dtw_distance_pairs, series, "k", "t", "v", max_keys=3),
    )
    assert n == DTW_CONSTRUCT_JOBS
