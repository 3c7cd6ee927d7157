"""Write-time sizing of the CDC merge (``cdc_merge_table``): each merge
commits ``ceil(table bytes / compact_target_file_bytes)`` files at
most, so a steady-state merge leaves nothing for ``compact()`` to do —
on txlog tables (sized from the log's add sizes) and on bare parquet
(sized from the file listing) — and leaves a ``_bloom`` sidecar
covering exactly the files it wrote."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from jibaro_spark import txlog
from jibaro_spark.catalog import Catalog, TableRef
from jibaro_spark.config import Settings
from jibaro_spark.maintenance import (
    build_bloom_file_index,
    compact,
    read_bloom_pruned,
    table_stats,
)
from jibaro_spark.operators.cdc import cdc_apply, cdc_merge_table, initial_load

KEYS = ["id"]
ROW_DDL = "struct<id:bigint,val:string>"


def _envelope(spark, rows):
    """(op, id, val, ts) tuples as a Debezium envelope frame."""
    df = spark.createDataFrame(rows, "op string, id long, val string, ts long")
    image = F.struct("id", "val")
    return df.select(
        F.struct("id").alias("key"),
        F.struct(
            F.col("op").alias("op"),
            F.when(F.col("op") != "c", image).otherwise(F.lit(None).cast(ROW_DDL))
            .alias("before"),
            F.when(F.col("op") != "d", image).otherwise(F.lit(None).cast(ROW_DDL))
            .alias("after"),
        ).alias("value"),
        F.col("ts").alias("timestamp"),
    )


def _batches(n_rows=400, n_batches=4):
    """Initial snapshot rows, then ``n_batches`` change batches with
    updates (one key updated twice), deletes and inserts."""
    ts = iter(range(1, 10**6))
    first = [("r", i, f"v{i}", next(ts)) for i in range(n_rows)]
    out = [first]
    for b in range(n_batches):
        rows = [("u", i, f"u{b}-{i}", next(ts)) for i in range(b, n_rows, 7)]
        rows.append(("u", b, f"u{b}-again", next(ts)))
        rows += [("d", i, None, next(ts)) for i in range(b + 3, n_rows, 53)]
        rows += [("c", n_rows + 100 * b + i, f"n{b}-{i}", next(ts)) for i in range(30)]
        out.append(rows)
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _merge_all(spark, cat, ref, batches, after_merge):
    """Initial load, then every batch through ``cdc_merge_table``; the
    ``cdc_apply`` fold over the same batches is the expected state."""
    path = cat.path(ref)
    envs = [_envelope(spark, rows) for rows in batches]
    assert cdc_merge_table(spark, cat, envs[0], ref, KEYS)["operation"] == "INITIAL_LOAD"
    expected = spark.createDataFrame(
        _rows(initial_load(envs[0], KEYS)), "id long, val string, op string"
    )
    for env in envs[1:]:
        before = _table_bytes(spark, path)
        metrics = cdc_merge_table(spark, cat, env, ref, KEYS)
        assert metrics["operation"] == "MERGE"
        expected = spark.createDataFrame(
            _rows(cdc_apply(expected, env, KEYS)), expected.schema
        )
        after_merge(metrics, before)
    return expected


def _table_bytes(spark, path):
    if txlog.latest_version(path) is not None:
        return txlog.snapshot_bytes(path)
    return table_stats(spark, path).size_bytes


def _catalog(tmp_path, **kw):
    return Catalog(
        Settings(protocol="file", base_path=str(tmp_path), compact_min_files=2, **kw)
    )


def test_txlog_merge_commits_one_file_and_compaction_is_idle(spark, tmp_path):
    cat = _catalog(tmp_path, use_txlog=True)
    ref = TableRef("curated", "proj", "db", "sized")
    path = cat.path(ref)

    def check(metrics, _before):
        head = txlog.history(path, limit=1)[0]
        assert head["operation"] == "MERGE" and head["num_added"] == 1
        assert metrics["rowsWritten"] == txlog.read_versioned(spark, path).count()
        assert compact(spark, cat, ref) is False
        assert txlog.history(path, limit=1)[0]["operation"] == "MERGE"

    expected = _merge_all(spark, cat, ref, _batches(), check)
    assert _rows(txlog.read_versioned(spark, path)) == _rows(expected)
    assert sum(h["operation"] == "MERGE" for h in txlog.history(path)) == 4


def test_txlog_merge_below_table_size_is_bounded(spark, tmp_path):
    """A target below the table size: the merge writes at most
    ``ceil(snapshot bytes / target)`` files."""
    probe = _catalog(tmp_path / "probe", use_txlog=True)
    ref = TableRef("curated", "proj", "db", "sized")
    batches = _batches(n_rows=3000, n_batches=2)
    cdc_merge_table(spark, probe, _envelope(spark, batches[0]), ref, KEYS)
    target = max(1, txlog.snapshot_bytes(probe.path(ref)) // 3)

    cat = _catalog(tmp_path / "lake", use_txlog=True, compact_target_file_bytes=target)
    path = cat.path(ref)

    def check(metrics, before):
        added = txlog.history(path, limit=1)[0]["num_added"]
        assert 1 <= added <= math.ceil(before / target)
        assert metrics["rowsWritten"] == txlog.read_versioned(spark, path).count()

    expected = _merge_all(spark, cat, ref, batches, check)
    assert _rows(txlog.read_versioned(spark, path)) == _rows(expected)


@pytest.mark.parametrize("target", [None, "third"])
def test_bare_parquet_merge_is_sized(spark, tmp_path, target):
    ref = TableRef("curated", "proj", "db", "bare")
    batches = _batches()
    kw = {}
    if target == "third":
        probe = _catalog(tmp_path / "probe")
        cdc_merge_table(spark, probe, _envelope(spark, batches[0]), ref, KEYS)
        kw["compact_target_file_bytes"] = max(
            1, table_stats(spark, probe.path(ref)).size_bytes // 3
        )
    cat = _catalog(tmp_path / "lake", **kw)
    path = cat.path(ref)
    target_bytes = cat.settings.compact_target_file_bytes

    def check(metrics, before):
        files = table_stats(spark, path).num_files
        assert 1 <= files <= math.ceil(before / target_bytes)
        assert metrics["rowsWritten"] == spark.read.parquet(path).count()
        if target is None:
            assert files == 1 and compact(spark, cat, ref) is False

    expected = _merge_all(spark, cat, ref, batches, check)
    assert txlog.latest_version(path) is None
    assert _rows(spark.read.parquet(path)) == _rows(expected)


@pytest.mark.parametrize("use_txlog", [False, True], ids=["bare", "txlog"])
def test_merge_keeps_bloom_sidecar_exact(spark, tmp_path, use_txlog):
    """A MERGE on a bloom-indexed table leaves the ``_bloom`` sidecar
    covering exactly the new snapshot's files, and point reads through
    it find the merged rows."""
    cat = _catalog(tmp_path, use_txlog=use_txlog)
    ref = TableRef("curated", "proj", "db", "indexed")
    path = cat.path(ref)
    first, second = _batches(n_batches=1)
    cdc_merge_table(spark, cat, _envelope(spark, first), ref, KEYS)
    build_bloom_file_index(spark, path, "id")
    assert cdc_merge_table(spark, cat, _envelope(spark, second), ref, KEYS)[
        "operation"
    ] == "MERGE"
    if use_txlog:
        live = txlog.snapshot_files(path)
    else:
        live = spark.read.parquet(path).inputFiles()
    words = spark.read.parquet(os.path.join(path, "_bloom", "id", "words"))
    indexed = [r["file"] for r in words.select("file").distinct().collect()]
    assert {f.rsplit("/", 1)[-1] for f in indexed} == {
        f.rsplit("/", 1)[-1] for f in live
    }
    # key 0 updated twice, key 3 deleted, key 400 inserted
    for key, want in ((0, ["u0-again"]), (3, []), (400, ["n0-0"])):
        got = read_bloom_pruned(spark, path, "id", key).collect()
        assert [r["val"] for r in got] == want, key
