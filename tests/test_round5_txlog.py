"""Transaction-log table semantics (jibaro_spark/txlog.py): versioned
commits, snapshot isolation, time travel, history, vacuum retention,
crash-safety of uncommitted writes, and commit-conflict retry."""

from __future__ import annotations

import glob
import os

import pytest

# battery class (r13 suite split — see pytest.ini): excluded from the
# default fast-core run the round driver's verify window executes
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

from jibaro_spark import txlog as T


def _vals(df):
    return sorted(r["v"] for r in df.collect())


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def test_append_and_overwrite_versions(spark, table):
    v0 = T.write_versioned(spark.range(3).select(F.col("id").alias("v")), table)
    v1 = T.write_versioned(
        spark.range(3, 5).select(F.col("id").alias("v")), table
    )
    assert (v0, v1) == (0, 1)
    assert _vals(T.read_versioned(spark, table)) == [0, 1, 2, 3, 4]
    v2 = T.write_versioned(
        spark.range(100, 102).select(F.col("id").alias("v")),
        table,
        mode="overwrite",
    )
    assert v2 == 2
    assert _vals(T.read_versioned(spark, table)) == [100, 101]


def test_time_travel_and_snapshot_isolation(spark, table):
    T.write_versioned(spark.range(2).select(F.col("id").alias("v")), table)
    pinned = T.read_versioned(spark, table, version=0)
    T.write_versioned(
        spark.range(50, 51).select(F.col("id").alias("v")),
        table,
        mode="overwrite",
    )
    # the pinned reader still sees version 0 — overwrite removed files
    # from the LOG, not from disk
    assert _vals(pinned) == [0, 1]
    assert _vals(T.read_versioned(spark, table, version=0)) == [0, 1]
    assert _vals(T.read_versioned(spark, table)) == [50]


def test_history_records_operations(spark, table):
    T.write_versioned(spark.range(1).select(F.col("id").alias("v")), table)
    T.write_versioned(
        spark.range(1).select(F.col("id").alias("v")), table,
        mode="overwrite", operation="MERGE",
    )
    h = T.history(table)
    assert [c["version"] for c in h] == [1, 0]
    assert h[0]["operation"] == "MERGE"
    assert h[1]["operation"] == "WRITE"


def test_uncommitted_write_leaves_table_unchanged(spark, table, monkeypatch):
    T.write_versioned(spark.range(3).select(F.col("id").alias("v")), table)
    before = T.snapshot_files(table)

    def boom(src, dst):
        raise OSError("crash before commit")

    monkeypatch.setattr(os, "link", boom)
    with pytest.raises(Exception):
        T.write_versioned(
            spark.range(9).select(F.col("id").alias("v")), table
        )
    monkeypatch.undo()
    # table state unchanged; the orphaned data files are invisible
    assert T.snapshot_files(table) == before
    assert _vals(T.read_versioned(spark, table)) == [0, 1, 2]
    # vacuum reclaims the orphans
    n = T.vacuum_versioned(table, keep_versions=5, min_file_age_s=0)
    assert n > 0
    assert _vals(T.read_versioned(spark, table)) == [0, 1, 2]


def test_commit_conflict_retries_to_next_version(spark, table):
    T.write_versioned(spark.range(1).select(F.col("id").alias("v")), table)
    # simulate a racing writer that already took version 1
    conflict = T._version_file(table, 1)
    with open(conflict, "w") as f:
        f.write('{"commit": {"version": 1, "ts": 0, "operation": "WRITE", "num_added": 0}}\n')
    v = T.write_versioned(
        spark.range(7, 8).select(F.col("id").alias("v")), table
    )
    assert v == 2  # retried past the conflicting version
    assert 7 in _vals(T.read_versioned(spark, table))


def test_vacuum_respects_retention(spark, table):
    for i in range(4):
        T.write_versioned(
            spark.range(i * 10, i * 10 + 2).select(F.col("id").alias("v")),
            table,
            mode="overwrite" if i else "append",
        )
    deleted = T.vacuum_versioned(table, keep_versions=2, min_file_age_s=0)
    assert deleted > 0
    # retained versions still read fine
    assert _vals(T.read_versioned(spark, table, version=3)) == [30, 31]
    assert _vals(T.read_versioned(spark, table, version=2)) == [20, 21]
    # out-of-retention time travel fails at scan (files gone) — the
    # log still resolves, the data does not
    with pytest.raises(Exception):
        T.read_versioned(spark, table, version=0).collect()


def test_cdc_merge_over_versioned_table(spark, table):
    """The reference's staged→curated MERGE shape on the log: read the
    current snapshot, apply the CDC batch, commit as an overwrite —
    readers of the prior version are isolated, history shows MERGE."""
    from jibaro_spark.operators.cdc import cdc_apply

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    T.write_versioned(base, table)
    current = T.read_versioned(spark, table)
    envelope = spark.createDataFrame(
        [("u", 2, "B", 1), ("d", 3, None, 2), ("c", 4, "d", 3)],
        "op string, id long, val string, ts long",
    ).select(
        F.struct("id").alias("key"),
        F.struct(
            F.col("op").alias("op"),
            F.lit(None).cast("struct<id:bigint,val:string>").alias("before"),
            F.struct("id", "val").alias("after"),
        ).alias("value"),
        F.col("ts").alias("timestamp"),
    )
    merged = cdc_apply(current, envelope, key_cols=["id"]).select("id", "val")
    T.write_versioned(merged, table, mode="overwrite", operation="MERGE")
    got = {
        r["id"]: r["val"] for r in T.read_versioned(spark, table).collect()
    }
    assert got == {1: "a", 2: "B", 4: "d"}
    prior = {
        r["id"]: r["val"]
        for r in T.read_versioned(spark, table, version=0).collect()
    }
    assert prior == {1: "a", 2: "b", 3: "c"}
    assert T.history(table)[0]["operation"] == "MERGE"


def test_cdc_merge_table_uses_txlog_when_present(spark, tmp_path):
    """cdc_merge_table auto-detects a _jibaro_log table and commits the
    merge as a new version instead of an rm-rf overwrite."""
    from jibaro_spark.catalog import Catalog, TableRef
    from jibaro_spark.config import Settings
    from jibaro_spark.operators.cdc import cdc_merge_table

    cat = Catalog(Settings(protocol="file", base_path=str(tmp_path)))
    ref = TableRef("curated", "proj", "db", "tx_tbl")
    path = cat.path(ref)
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    T.write_versioned(base, path)
    envelope = spark.createDataFrame(
        [("u", 1, "A", 1), ("c", 5, "e", 2)],
        "op string, id long, val string, ts long",
    ).select(
        F.struct("id").alias("key"),
        F.struct(
            F.col("op").alias("op"),
            F.lit(None).cast("struct<id:bigint,val:string>").alias("before"),
            F.struct("id", "val").alias("after"),
        ).alias("value"),
        F.col("ts").alias("timestamp"),
    )
    cdc_merge_table(spark, cat, envelope, ref, key_cols=["id"])
    got = {
        r["id"]: r["val"]
        for r in T.read_versioned(spark, path).select("id", "val").collect()
    }
    assert got == {1: "A", 2: "b", 5: "e"}
    assert T.history(path)[0]["operation"] == "MERGE"
    # version 0 still readable — the merge was a commit, not an rm-rf
    assert {
        r["id"] for r in T.read_versioned(spark, path, version=0).collect()
    } == {1, 2}


def test_maintenance_vacuum_and_history_on_txlog(spark, tmp_path):
    """vacuum_if_due fires on the version cadence of a txlog table
    (the reference's every-N-versions policy made real), and
    append_history_metrics records the commit's version/operation."""
    from jibaro_spark.catalog import Catalog, TableRef
    from jibaro_spark.config import Settings
    from jibaro_spark.maintenance import append_history_metrics, vacuum_if_due

    cat = Catalog(
        Settings(
            protocol="file", base_path=str(tmp_path), vacuum_every_n_versions=3
        )
    )
    ref = TableRef("curated", "proj", "db", "vac_tbl")
    path = cat.path(ref)
    for i in range(3):
        T.write_versioned(
            spark.range(i, i + 1).select(F.col("id").alias("v")),
            path,
            mode="overwrite" if i else "append",
        )
    # head == 2: not on cadence
    assert vacuum_if_due(spark, cat, ref) is False
    T.write_versioned(
        spark.range(9, 10).select(F.col("id").alias("v")), path, mode="overwrite"
    )
    # head == 3: cadence fires; retained window still time-travels
    assert vacuum_if_due(spark, cat, ref) is True
    assert _vals(T.read_versioned(spark, path)) == [9]
    append_history_metrics(spark, cat, ref, operation="ignored-for-txlog")
    hist = spark.read.parquet(cat.history_path(ref))
    row = hist.orderBy(F.col("recordedAt").desc()).first()
    assert row["version"] == 3 and row["operation"] == "OVERWRITE"
    # one append, one data file; the schema is the one the history
    # table has always had (sorted metric columns, then recordedAt)
    assert len(glob.glob(os.path.join(cat.history_path(ref), "*.parquet"))) == 1
    assert hist.schema == StructType(
        [
            StructField("numAdded", LongType()),
            StructField("numFiles", LongType()),
            StructField("operation", StringType()),
            StructField("sizeBytes", LongType()),
            StructField("version", LongType()),
            StructField("recordedAt", TimestampType()),
        ]
    )


def test_compact_versioned_preserves_rows_and_history(spark, table):
    for i in range(5):
        T.write_versioned(
            spark.range(i * 10, i * 10 + 10).select(
                (F.col("id") % 16).alias("x"), (F.col("id") % 7).alias("y"),
                F.col("id").alias("v"),
            ),
            table,
        )
    before_files = len(T.snapshot_files(table))
    before = _vals(T.read_versioned(spark, table))
    v = T.compact_versioned(
        spark, table, target_file_bytes=10**9, zorder_cols=["x", "y"]
    )
    assert v == 5
    assert len(T.snapshot_files(table)) < before_files
    assert _vals(T.read_versioned(spark, table)) == before
    assert T.history(table)[0]["operation"].startswith("OPTIMIZE ZORDER")
    # pre-compaction version still time-travels
    assert _vals(T.read_versioned(spark, table, version=4)) == before


def test_vacuum_age_guard_spares_young_files(spark, table):
    """Default vacuum must NOT reclaim freshly-written unreferenced
    files — they may belong to an in-flight commit (the concurrent-
    writer guard); with the age floor at 0 the same files go."""
    T.write_versioned(spark.range(2).select(F.col("id").alias("v")), table)
    T.write_versioned(
        spark.range(5, 6).select(F.col("id").alias("v")), table, mode="overwrite"
    )
    assert T.vacuum_versioned(table, keep_versions=1) == 0  # young files spared
    assert _vals(T.read_versioned(spark, table, version=0)) == [0, 1]
    assert T.vacuum_versioned(table, keep_versions=1, min_file_age_s=0) > 0
    assert _vals(T.read_versioned(spark, table)) == [5]


def test_generate_manifest_lists_live_snapshot_files(spark, tmp_path):
    """generate_manifest (K9) on a txlog table writes a real
    _symlink_format_manifest/manifest listing EXACTLY the current
    snapshot's data files (overwritten versions' files excluded even
    though still on disk), and refreshes after a new commit; on a
    plain parquet dir it lists the part files."""
    from jibaro_spark.catalog import Catalog, TableRef
    from jibaro_spark.config import Settings
    from jibaro_spark.maintenance import generate_manifest

    cat = Catalog(Settings(protocol="file", base_path=str(tmp_path)))
    ref = TableRef("curated", "proj", "db", "man_tbl")
    path = cat.path(ref)
    T.write_versioned(spark.range(3).select(F.col("id").alias("v")), path)
    T.write_versioned(
        spark.range(10, 12).select(F.col("id").alias("v")),
        path,
        mode="overwrite",
    )
    assert generate_manifest(spark, cat, ref) is True
    mf = os.path.join(path, "_symlink_format_manifest", "manifest")
    with open(mf) as f:
        listed = sorted(line.strip() for line in f if line.strip())
    live = sorted("file://" + os.path.abspath(p) for p in T.snapshot_files(path))
    assert listed == live
    # version-0 files are still on disk (time travel) but NOT listed
    all_parquet = {
        "file://" + os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    assert set(listed) < all_parquet
    # a new commit changes the manifest on regeneration
    T.write_versioned(
        spark.range(20, 21).select(F.col("id").alias("v")),
        path,
        mode="overwrite",
    )
    assert generate_manifest(spark, cat, ref) is True
    with open(mf) as f:
        relisted = sorted(line.strip() for line in f if line.strip())
    assert relisted == sorted(
        "file://" + os.path.abspath(p) for p in T.snapshot_files(path)
    )
    assert relisted != listed

    # plain (non-txlog) parquet directory: every part file is live
    plain_ref = TableRef("curated", "proj", "db", "plain_tbl")
    plain = cat.path(plain_ref)
    spark.range(5).select(F.col("id").alias("v")).write.parquet(plain)
    assert generate_manifest(spark, cat, plain_ref) is True
    with open(os.path.join(plain, "_symlink_format_manifest", "manifest")) as f:
        plain_listed = sorted(line.strip() for line in f if line.strip())
    assert plain_listed == sorted(
        "file://" + os.path.abspath(os.path.join(plain, f))
        for f in os.listdir(plain)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    assert len(plain_listed) > 0


def test_txn_write_is_idempotent_on_replay(spark, table):
    """A (txn_app, txn_version) pair at or below the committed
    watermark commits NOTHING — the foreachBatch-replay guarantee."""
    df1 = spark.range(3).select(F.col("id").alias("v"))
    v0 = T.write_versioned(df1, table, txn_app="app", txn_version=0)
    assert v0 == 0 and T.latest_txn_version(table, "app") == 0
    # replay of batch 0: skipped, head unchanged, rows unchanged
    got = T.write_versioned(
        spark.range(100, 103).select(F.col("id").alias("v")),
        table, txn_app="app", txn_version=0,
    )
    assert got == 0 and T.latest_version(table) == 0
    assert _vals(T.read_versioned(spark, table)) == [0, 1, 2]
    # next batch commits; an UNRELATED app is not blocked
    v1 = T.write_versioned(
        spark.range(3, 5).select(F.col("id").alias("v")),
        table, txn_app="app", txn_version=1,
    )
    assert v1 == 1
    v2 = T.write_versioned(
        spark.range(9, 10).select(F.col("id").alias("v")),
        table, txn_app="other", txn_version=0,
    )
    assert v2 == 2
    assert _vals(T.read_versioned(spark, table)) == [0, 1, 2, 3, 4, 9]
    # mismatched arg pairing is rejected loudly
    with pytest.raises(ValueError):
        T.write_versioned(df1, table, txn_app="app")


def test_streaming_restart_replay_commits_each_batch_once(spark, tmp_path):
    """End-to-end exactly-once: run a file stream into a txlog table
    via idempotent_batch_writer, then DELETE the checkpoint and rerun
    (the harshest replay — every micro-batch is re-delivered).  The
    table must not double its rows."""
    import shutil

    from jibaro_spark.io import idempotent_batch_writer

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out_tbl")
    spark.range(5).select(F.col("id").alias("v")).write.parquet(src)

    def run(checkpoint: str) -> None:
        stream = (
            spark.readStream.schema("v long").parquet(src)
        )
        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .foreachBatch(idempotent_batch_writer(out))
            .start()
        )
        q.awaitTermination(120)

    run(ckpt)
    assert _vals(T.read_versioned(spark, out)) == [0, 1, 2, 3, 4]
    head = T.latest_version(out)
    # simulate a lost checkpoint: the stream replays from scratch
    shutil.rmtree(ckpt)
    run(str(tmp_path / "ckpt2"))
    assert _vals(T.read_versioned(spark, out)) == [0, 1, 2, 3, 4]
    assert T.latest_version(out) == head


def test_generate_manifest_recurses_hive_partitions(spark, tmp_path):
    """Plain-parquet fallback walks key=value subdirs (a Hive layout
    has NO top-level part files) and refuses to write an empty
    manifest for a dir without data (ADVICE r5)."""
    from jibaro_spark.catalog import Catalog, TableRef
    from jibaro_spark.config import Settings
    from jibaro_spark.maintenance import generate_manifest

    cat = Catalog(Settings(protocol="file", base_path=str(tmp_path)))
    ref = TableRef("curated", "proj", "db", "hive_tbl")
    path = cat.path(ref)
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "v long, k string"
    )
    df.write.partitionBy("k").parquet(path)
    assert generate_manifest(spark, cat, ref) is True
    mf = os.path.join(path, "_symlink_format_manifest", "manifest")
    with open(mf) as f:
        listed = [line.strip() for line in f if line.strip()]
    assert listed, "hive-partitioned table must yield a non-empty manifest"
    assert all("/k=" in p for p in listed)
    # empty dir → False, no manifest written
    ref2 = TableRef("curated", "proj", "db", "empty_tbl")
    os.makedirs(cat.path(ref2), exist_ok=True)
    assert generate_manifest(spark, cat, ref2) is False
    assert not os.path.exists(
        os.path.join(cat.path(ref2), "_symlink_format_manifest", "manifest")
    )


def test_idempotent_batch_writer_distinct_txn_apps(spark, tmp_path):
    """Two writers appending to ONE table with distinct txn_app ids
    keep independent watermarks — the second writer's batch 0 is NOT
    skipped by the first writer's committed batch 0 (ADVICE r5)."""
    from jibaro_spark.io import idempotent_batch_writer

    table = str(tmp_path / "shared_tbl")
    w1 = idempotent_batch_writer(table, txn_app="ckpt://q1")
    w2 = idempotent_batch_writer(table, txn_app="ckpt://q2")
    w1(spark.range(3).select(F.col("id").alias("v")), 0)
    w2(spark.range(10, 13).select(F.col("id").alias("v")), 0)
    assert sorted(
        r["v"] for r in T.read_versioned(spark, table).collect()
    ) == [0, 1, 2, 10, 11, 12]
    # replay of either writer's batch 0 is still skipped
    w2(spark.range(99, 100).select(F.col("id").alias("v")), 0)
    assert T.read_versioned(spark, table).count() == 6
    # the table-path default shares one watermark (the documented
    # single-writer convenience): same batch id would be skipped
    assert T.latest_txn_version(table, "ckpt://q1") == 0
    assert T.latest_txn_version(table, "ckpt://q2") == 0
    assert T.latest_txn_version(table, "nope") is None


def test_checkpoint_accelerated_replay_is_equivalent(spark, table):
    """25 commits (interval 10) → checkpoints at v10 and v20; every
    version's snapshot must equal the checkpoint-free full replay, and
    reads past a checkpoint must not read the commits it covers."""
    import glob as _glob

    for i in range(25):
        T.write_versioned(
            spark.range(i, i + 1).select(F.col("id").alias("v")), table
        )
    ckpts = sorted(_glob.glob(os.path.join(table, T.LOG_DIR, "*.checkpoint.json")))
    assert [os.path.basename(c) for c in ckpts] == [
        f"{10:020d}.checkpoint.json",
        f"{20:020d}.checkpoint.json",
    ]
    assert T.latest_version(table) == 24  # checkpoints are not commits
    # equivalence at a pre-checkpoint, covered, and head version
    for v in (5, 10, 15, 24):
        with_ckpt = T.snapshot_files(table, v)
        assert _vals(T.read_versioned(spark, table, v)) == list(range(v + 1))
        # full-replay truth: remove checkpoints, resolve again
        for c in ckpts:
            os.rename(c, c + ".bak")
        try:
            assert T.snapshot_files(table, v) == with_ckpt
        finally:
            for c in ckpts:
                os.rename(c + ".bak", c)


def test_checkpoint_reflects_overwrites_and_time_travel(spark, table):
    for i in range(9):
        T.write_versioned(
            spark.range(i, i + 1).select(F.col("id").alias("v")), table
        )
    # v9 is an overwrite AND lands on the checkpoint cadence (10th commit
    # is v9? no — cadence is version % 10 == 0, so force v10 overwrite)
    T.write_versioned(
        spark.range(100, 102).select(F.col("id").alias("v")), table
    )  # v9
    T.write_versioned(
        spark.range(200, 203).select(F.col("id").alias("v")),
        table,
        mode="overwrite",
    )  # v10 — checkpointed, post-overwrite
    assert os.path.exists(
        os.path.join(table, T.LOG_DIR, f"{10:020d}.checkpoint.json")
    )
    assert _vals(T.read_versioned(spark, table)) == [200, 201, 202]
    # time travel BELOW the checkpoint still works (full replay lane)
    assert _vals(T.read_versioned(spark, table, 3)) == [0, 1, 2, 3]


def test_manual_checkpoint_and_vacuum_interop(spark, table):
    for i in range(4):
        T.write_versioned(
            spark.range(i, i + 1).select(F.col("id").alias("v")), table
        )
    v = T.write_checkpoint(table)
    assert v == 3
    assert _vals(T.read_versioned(spark, table)) == [0, 1, 2, 3]
    # vacuum must not treat the checkpoint as a data file
    n = T.vacuum_versioned(table, keep_versions=1, min_file_age_s=0)
    assert os.path.exists(
        os.path.join(table, T.LOG_DIR, f"{3:020d}.checkpoint.json")
    )
    assert _vals(T.read_versioned(spark, table)) == [0, 1, 2, 3]


def test_txn_watermarks_resolve_from_checkpoint(spark, table):
    """An app whose last commit is far below the newest checkpoint must
    resolve its watermark from the checkpoint's consolidated txns map
    (never a full history scan); absent apps still resolve to None."""
    df = spark.range(1).select(F.col("id").alias("v"))
    T.write_versioned(df, table)  # v0
    T.write_versioned(df, table, txn_app="old", txn_version=7)  # v1
    for i in range(2, 25):
        T.write_versioned(df, table, txn_app="s", txn_version=i)
    assert os.path.exists(
        os.path.join(table, T.LOG_DIR, f"{20:020d}.checkpoint.json")
    )
    assert T.latest_txn_version(table, "s") == 24
    assert T.latest_txn_version(table, "old") == 7
    assert T.latest_txn_version(table, "never") is None
    # the idempotent-skip contract still holds through the checkpoint
    head = T.latest_version(table)
    assert T.write_versioned(df, table, txn_app="old", txn_version=5) == head
    assert T.latest_version(table) == head  # nothing committed


def test_merge_loop_across_checkpoint_boundary(spark, table):
    """12 sequential MERGE-style overwrites (a curated table's steady
    state) cross the v10 auto-checkpoint: the post-checkpoint snapshot,
    time travel below the checkpoint, and history all stay exact."""
    T.write_versioned(
        spark.createDataFrame([(1, 0)], "id long, val long"), table
    )
    for step in range(1, 13):
        cur = T.read_versioned(spark, table)
        merged = cur.withColumn(
            "val", F.when(F.col("id") == 1, F.lit(step)).otherwise(F.col("val"))
        )
        if step % 3 == 0:  # occasionally grow the table too
            merged = merged.unionByName(
                spark.createDataFrame([(100 + step, step)], "id long, val long")
            )
        T.write_versioned(merged, table, mode="overwrite", operation="MERGE")
    assert os.path.exists(
        os.path.join(table, T.LOG_DIR, f"{10:020d}.checkpoint.json")
    )
    got = {r["id"]: r["val"] for r in T.read_versioned(spark, table).collect()}
    assert got[1] == 12 and got[103] == 3 and got[106] == 6 and got[112] == 12
    # below-checkpoint time travel: after 5 merges, val == 5, one growth row
    v5 = {r["id"]: r["val"] for r in T.read_versioned(spark, table, 5).collect()}
    assert v5 == {1: 5, 103: 3}
    assert [h["operation"] for h in T.history(table)[:3]] == ["MERGE"] * 3
