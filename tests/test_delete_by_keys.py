"""Targeted key deletion: bloom-pruned and stats-pruned file
targeting, exact row semantics, untouched files left byte-identical.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from jibaro_spark import txlog
from jibaro_spark.maintenance import build_bloom_file_index, delete_by_keys


def _scattered(spark, tmp_path, name="t"):
    out = str(tmp_path / name)
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartition(8, "k").write.mode("overwrite").parquet(out)
    return out


def test_delete_bloom_pruned_rewrites_few_files(spark, tmp_path):
    out = _scattered(spark, tmp_path)
    build_bloom_file_index(spark, out, "k")
    before_files = set(spark.read.parquet(out).inputFiles())
    stats = delete_by_keys(spark, out, "k", [123, 456])
    assert stats["rows_deleted"] == 2
    assert stats["files_total"] == 8
    assert stats["files_rewritten"] <= 3  # 1-2 true files + rare FPs
    after = spark.read.parquet(out)
    assert after.count() == 3998
    assert after.filter(F.col("k").isin([123, 456])).count() == 0
    # untouched files survive with identical paths
    after_files = set(after.inputFiles())
    untouched = before_files & after_files
    assert len(untouched) >= 8 - stats["files_rewritten"]


def test_delete_stats_pruned_on_clustered_table(spark, tmp_path):
    out = str(tmp_path / "clustered")
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartitionByRange(8, "k").write.mode("overwrite").parquet(out)
    stats = delete_by_keys(spark, out, "k", [10, 20, 30])
    assert stats["rows_deleted"] == 3
    assert stats["files_rewritten"] < 8  # min/max pruning kicked in
    assert spark.read.parquet(out).count() == 3997


def test_delete_unprunable_falls_back_but_stays_exact(spark, tmp_path):
    out = _scattered(spark, tmp_path, "fallback")
    # no bloom index; hash-scattered → min/max covers everything
    stats = delete_by_keys(spark, out, "k", [7])
    assert stats["rows_deleted"] == 1
    after = spark.read.parquet(out)
    assert after.count() == 3999
    assert after.filter(F.col("k") == 7).count() == 0
    # full-scan values unchanged for a survivor
    assert after.filter(F.col("k") == 8).collect()[0]["v"] == 8 % 97


def test_delete_absent_keys_noop_rows(spark, tmp_path):
    out = _scattered(spark, tmp_path, "absent")
    build_bloom_file_index(spark, out, "k")
    stats = delete_by_keys(spark, out, "k", [999_999])
    assert stats["rows_deleted"] == 0
    assert spark.read.parquet(out).count() == 4000


def _clustered_with_small_file(spark, out, layout):
    """8 range-clustered files of keys 0..3999, plus one file holding
    only keys 5001..5003."""
    big = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).repartitionByRange(8, "k")
    small = spark.createDataFrame(
        [(5001, 1), (5002, 2), (5003, 3)], "k long, v long"
    ).coalesce(1)
    if layout == "txlog":
        txlog.write_versioned(big, out, mode="overwrite")
        txlog.write_versioned(small, out, mode="append")
    else:
        big.write.parquet(out)
        small.write.mode("append").parquet(out)


# Spark jobs one delete runs on a table without a bloom index: the
# rewrite of the candidate files counts the deleted rows itself
# (``Observation``), so no count job scans the candidates first.
_DELETE_JOBS = {"bare": 2, "txlog": 1}
# ... and on a bloom-indexed table: the probe (its broadcast, map and
# collect jobs), the rewrite, and the index upkeep (the new files'
# words: two map stages and the write; one job fewer when the rewrite
# leaves no rows to index).  No job reads the index's existing rows or
# its meta.
_INDEXED_DELETE_JOBS = {"bare": 8, "txlog": 7}


@pytest.mark.parametrize(
    "layout,indexed",
    [("bare", False), ("txlog", False), ("bare", True), ("txlog", True)],
    ids=["bare", "txlog", "bare-indexed", "txlog-indexed"],
)
@pytest.mark.parametrize("keys", [[10, 20, 30], [5001, 5002, 5003]])
def test_delete_counts_rows_in_the_rewrite_job(spark, tmp_path, layout, indexed, keys):
    """[5001, 5002, 5003] empties the whole small file.  With the
    index, one more file is a Bloom false positive for [10, 20, 30],
    so two files are rewritten."""
    out = str(tmp_path / layout)
    _clustered_with_small_file(spark, out, layout)
    if indexed:
        build_bloom_file_index(spark, out, "k")
    sc = spark.sparkContext
    group = f"delete_by_keys-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "delete_by_keys job count")
    try:
        stats = delete_by_keys(spark, out, "k", keys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = _DELETE_JOBS[layout]
    if indexed:
        jobs = _INDEXED_DELETE_JOBS[layout] - (keys[0] == 5001)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
    assert stats["rows_deleted"] == 3
    assert stats["files_rewritten"] == (2 if indexed and keys[0] == 10 else 1)
    after = (
        txlog.read_versioned(spark, out) if layout == "txlog" else spark.read.parquet(out)
    )
    assert after.count() == 4000
    assert after.filter(F.col("k").isin(keys)).count() == 0
