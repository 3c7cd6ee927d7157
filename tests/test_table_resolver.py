"""The table resolver (``maintenance._snapshot``) and the one rewrite
commit (``maintenance._replace``) behind every table rewrite:

- a txlog table read through ``io.read_table`` (and so
  ``publish_table``) yields its live snapshot, not the rows of removed
  files still on disk;
- the bare listing follows Spark's own rule: ``_x`` is hidden only
  without ``=``, so the staged layer's ``_batch_id=``/``_schema_pair=``
  partitions are data to ``table_stats``, ``parquet_file_stats`` and
  ``generate_manifest`` as they are to Spark;
- a partial rewrite of a Delta table refuses instead of deleting
  files under Delta's log.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from jibaro_spark import txlog
from jibaro_spark.catalog import Catalog, TableRef
from jibaro_spark.config import Settings
from jibaro_spark.io import read_table
from jibaro_spark.maintenance import (
    _replace,
    _Snapshot,
    generate_manifest,
    parquet_file_stats,
    table_stats,
)


def _lake(tmp_path):
    return Catalog(Settings(protocol="file", base_path=str(tmp_path)))


def test_read_table_reads_the_live_txlog_snapshot(spark, tmp_path):
    lake = _lake(tmp_path)
    ref = TableRef("curated", "lab", "db", "twice")
    path = lake.path(ref)
    for lo in (0, 100):
        df = spark.range(lo, lo + 100).select(F.col("id").alias("k"))
        txlog.write_versioned(df.coalesce(1), path, mode="overwrite")
    for got in (
        read_table(spark, lake, ref),
        read_table(spark, lake, ref, schema="k long"),
        read_table(spark, lake, ref, mergeSchema="true"),
    ):
        assert got.count() == 100
        assert got.agg(F.min("k")).collect()[0][0] == 100


def test_bare_listing_reads_staged_partitions(spark, tmp_path):
    lake = _lake(tmp_path)
    ref = TableRef("staged", "lab", "db", "pairs")
    path = lake.path(ref)
    for batch in range(3):
        (
            spark.range(batch * 40, batch * 40 + 40)
            .select(F.col("id").alias("k"))
            .withColumn("_batch_id", F.lit(batch))
            .withColumn("_schema_pair", F.lit(f"{batch}-{batch + 1}"))
            .repartition(2)
            .write.partitionBy("_batch_id", "_schema_pair")
            .mode("append")
            .parquet(path)
        )
    # a hidden dir holding parquet is not data
    spark.range(5).write.parquet(os.path.join(path, "_bloom", "k", "words"))
    spark_files = spark.read.parquet(path).inputFiles()
    assert len(spark_files) >= 3
    assert table_stats(spark, path).num_files == len(spark_files)
    stats = parquet_file_stats(path, ["k"])
    assert len(stats) == len(spark_files)
    assert sum(r["num_rows"] for r in stats) == spark.read.parquet(path).count() == 120
    assert generate_manifest(spark, lake, ref) is True
    with open(os.path.join(path, "_symlink_format_manifest", "manifest")) as f:
        listed = sorted(line.strip() for line in f if line.strip())
    assert sorted(p.rsplit("/", 1)[-1] for p in listed) == sorted(
        p.rsplit("/", 1)[-1] for p in spark_files
    )
    assert all("/_batch_id=" in p for p in listed)


def test_partial_delta_rewrite_raises(spark, tmp_path):
    path = str(tmp_path / "delta_tbl")
    snap = _Snapshot(spark, path, "delta", True)
    df = spark.range(1).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="partial rewrite of the Delta table"):
        _replace(snap, df, "DELETE (k)", [os.path.join(path, "part-0.parquet")])
    assert not os.path.exists(path)
