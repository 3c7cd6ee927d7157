"""Versioned-table awareness swept across the whole maintenance
surface (the class behind VERDICT r8 item 3): `compact`,
`optimize_zorder`, `build_bloom_file_index`, `read_bloom_pruned`,
`read_pruned`, and `table_stats` previously treated every path as a
bare-parquet directory — on a txlog table that reads DEAD versions'
files (duplicated rows) and `optimize_zorder`'s rmtree would destroy
the log itself.  Each now resolves the table through the one
resolver (`maintenance._snapshot`), as every maintenance operator does.

Also: bloom-targeted + incrementally-indexed deletes on versioned
tables (files the index does not cover are always candidates, so a
stale sidecar can NEVER cause a missed deletion), and
`read_bloom_pruned`'s conservative handling of files appended after
the index build.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from jibaro_spark import txlog
from jibaro_spark import maintenance as mnt
from jibaro_spark.catalog import Catalog, TableRef
from jibaro_spark.config import Settings
from jibaro_spark.maintenance import (
    build_bloom_file_index,
    compact,
    delete_by_keys,
    optimize_zorder,
    read_bloom_pruned,
    read_pruned,
    table_stats,
)


def _versioned(spark, base_dir, name="vt", commits=4, rows_per=500):
    table = os.path.join(str(base_dir), name)
    os.makedirs(table, exist_ok=True)
    for i in range(commits):
        df = spark.range(i * rows_per, (i + 1) * rows_per).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        )
        txlog.write_versioned(df.repartition(2, "k"), table, mode="append")
    return table


def test_compact_dispatches_to_versioned_commit(spark, tmp_path):
    settings = Settings(protocol="file", base_path=str(tmp_path))
    lake = Catalog(settings)
    ref = TableRef("curated", "lab", "db", "vt")
    table = lake.path(ref)
    os.makedirs(table, exist_ok=True)
    for i in range(3):
        df = spark.range(i * 500, (i + 1) * 500).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        )
        # overwrite history leaves DEAD files in the directory — the
        # exact shape where a whole-dir read duplicates rows
        txlog.write_versioned(
            df.repartition(2, "k"), table, mode="overwrite"
        )
    head = txlog.latest_version(table)
    assert compact(spark, lake, ref, force=True) is True
    # an OPTIMIZE commit, not a directory overwrite: log intact, head
    # advanced, rows exactly the LIVE snapshot's (never dead-file dupes)
    assert txlog.latest_version(table) == head + 1
    cur = txlog.read_versioned(spark, table)
    assert cur.count() == 500
    assert cur.agg(F.min("k"), F.max("k")).collect()[0] == (1000, 1499)
    assert txlog.history(table)[0]["operation"].startswith("OPTIMIZE")
    # pre-compaction snapshot still time-travels
    assert txlog.read_versioned(spark, table, version=head).count() == 500


def test_optimize_zorder_preserves_log_and_rows(spark, tmp_path):
    table = _versioned(spark, tmp_path, "zv", commits=3)
    head = txlog.latest_version(table)
    n = optimize_zorder(spark, table, ["k", "v"], target_file_bytes=32 * 1024)
    assert n >= 1
    assert os.path.isdir(os.path.join(table, txlog.LOG_DIR)), "log destroyed"
    assert txlog.latest_version(table) == head + 1
    assert txlog.history(table)[0]["operation"].startswith("OPTIMIZE ZORDER")
    cur = txlog.read_versioned(spark, table)
    assert cur.count() == 1500
    assert cur.select(F.sum("k")).collect()[0][0] == sum(range(1500))
    assert txlog.read_versioned(spark, table, version=head).count() == 1500


def test_bloom_index_on_versioned_table_reads_snapshot_only(spark, tmp_path):
    table = os.path.join(str(tmp_path), "bv")
    os.makedirs(table, exist_ok=True)
    # two overwrites: the directory holds 2 generations, only 1 live
    for lo in (0, 1000):
        df = spark.range(lo, lo + 1000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        )
        txlog.write_versioned(df.repartition(4, "k"), table, mode="overwrite")
    build_bloom_file_index(spark, table, "k")
    # a live key resolves exactly once (a whole-dir read would find the
    # dead generation's files too for overlapping... and double-count)
    got = read_bloom_pruned(spark, table, "k", 1500).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1500, 1500 % 97)]
    # a dead-generation-only key is GONE even though its file is on disk
    assert read_bloom_pruned(spark, table, "k", 500).count() == 0
    # read_pruned (stats lane) sees the snapshot too
    assert read_pruned(spark, table, {"k": (0, 999)}).count() == 0
    assert read_pruned(spark, table, {"k": (1000, 1099)}).count() == 100


def test_versioned_delete_uses_bloom_and_updates_index(
    spark, tmp_path, monkeypatch
):
    table = _versioned(spark, tmp_path, "bdel", commits=4)  # 8 files, 2000 rows
    build_bloom_file_index(spark, table, "k")

    def _forbid(*a, **kw):
        raise AssertionError("full rebuild called during versioned delete")

    def _forbid_stats(*a, **kw):
        raise AssertionError("stats fallback used despite a covering index")

    # forbidding BOTH proves the delete was bloom-targeted (no stats
    # fallback) and the sidecar was updated incrementally (no rebuild)
    monkeypatch.setattr(mnt, "build_bloom_file_index", _forbid)
    monkeypatch.setattr(mnt, "parquet_file_stats", _forbid_stats)
    s1 = delete_by_keys(spark, table, "k", [100])
    assert s1["rows_deleted"] == 1
    assert s1["files_rewritten"] <= 3
    # second delete: the incrementally-updated sidecar still covers the
    # snapshot, so bloom targeting keeps working
    s2 = delete_by_keys(spark, table, "k", [1700])
    assert s2["rows_deleted"] == 1 and s2["files_rewritten"] <= 3
    monkeypatch.undo()
    cur = txlog.read_versioned(spark, table)
    assert cur.count() == 1998
    assert cur.filter(F.col("k").isin([100, 1700])).count() == 0
    # survivors all probe-able with zero false negatives
    for probe in (0, 99, 101, 1699, 1701, 1999):
        assert read_bloom_pruned(spark, table, "k", probe).count() == 1, probe


def test_versioned_delete_stale_index_falls_back_not_misses(spark, tmp_path):
    table = _versioned(spark, tmp_path, "stale", commits=2)  # keys 0..999
    build_bloom_file_index(spark, table, "k")
    # a commit AFTER the build: the sidecar does not cover it
    df = spark.range(5000, 5500).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    txlog.write_versioned(df.repartition(2, "k"), table, mode="append")
    # the doomed key lives ONLY in the un-indexed commit — trusting the
    # stale index would find zero candidates and leave it alive
    stats = delete_by_keys(spark, table, "k", [5250])
    assert stats["rows_deleted"] == 1
    cur = txlog.read_versioned(spark, table)
    assert cur.count() == 1499
    assert cur.filter(F.col("k") == 5250).count() == 0


def test_bloom_pruned_read_keeps_unindexed_files(spark, tmp_path):
    out = os.path.join(str(tmp_path), "plain")
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartition(4, "k").write.parquet(out)
    build_bloom_file_index(spark, out, "k")
    # a file appended AFTER the build (external writer shape)
    extra = os.path.join(str(tmp_path), "extra")
    spark.range(9000, 9010).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).coalesce(1).write.parquet(extra)
    part = next(f for f in os.listdir(extra) if f.endswith(".parquet"))
    shutil.copy(os.path.join(extra, part), os.path.join(out, f"late-{part}"))
    # keys in the unindexed file are FOUND (conservative keep), and
    # indexed keys still prune to few files
    assert read_bloom_pruned(spark, out, "k", 9005).count() == 1
    pruned = read_bloom_pruned(spark, out, "k", 777)
    assert pruned.count() == 1
    # 1-2 bloom hits + the 1 unindexed file
    assert len(pruned.inputFiles()) <= 3


def test_table_stats_ignores_sidecars_and_log(spark, tmp_path):
    out = os.path.join(str(tmp_path), "ts")
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartition(4, "k").write.parquet(out)
    before = table_stats(spark, out)
    assert before.num_files == 4
    build_bloom_file_index(spark, out, "k")
    after = table_stats(spark, out)
    assert after.num_files == 4, "sidecar parquet must not count as data"
    assert after.size_bytes == before.size_bytes
    # txlog table: commit JSONs and checkpoints don't count either
    table = _versioned(spark, tmp_path, "tsv", commits=2)
    st = table_stats(spark, table)
    assert st.num_files == 4  # 2 commits × 2 files, zero log artifacts


def test_bloom_auto_sizing_prevents_saturation(spark, tmp_path):
    """The old fixed 2^16-bit default saturated on dense files (~25%
    false positives PER KEY at 20k keys/file), so multi-key probes
    admitted nearly every file.  Auto-sizing allocates ~10 bits/row of
    the largest file from footer counts."""
    out = os.path.join(str(tmp_path), "dense")
    df = spark.range(0, 160_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartition(8, "k").write.parquet(out)  # ~20k keys per file
    build_bloom_file_index(spark, out, "k")
    with open(os.path.join(out, "_bloom", "k", "meta.json")) as f:
        meta = json.load(f)
    assert meta["num_bits"] >= (1 << 17), "must out-size the dense file"
    # an 8-key delete rewrites ~8 files + rare FPs — never most of them
    doomed = [int(160_000 * (i + 0.5) / 8) for i in range(8)]
    stats = delete_by_keys(spark, out, "k", doomed)
    assert stats["rows_deleted"] == 8
    assert stats["files_rewritten"] <= 8 + 2
    # explicit num_bits is still honored verbatim
    out2 = os.path.join(str(tmp_path), "explicit")
    df.limit(1000).write.parquet(out2)
    build_bloom_file_index(spark, out2, "k", num_bits=1 << 14)
    with open(os.path.join(out2, "_bloom", "k", "meta.json")) as f:
        meta2 = json.load(f)
    assert meta2["num_bits"] == 1 << 14


def test_bare_delete_stale_index_falls_back_not_misses(spark, tmp_path):
    """Bare-parquet mirror of the versioned stale-index test: a file
    appended after the index build holds the doomed key — trusting the
    stale index would find zero candidates and leave it alive."""
    out = os.path.join(str(tmp_path), "barestale")
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartition(4, "k").write.parquet(out)
    build_bloom_file_index(spark, out, "k")
    extra = os.path.join(str(tmp_path), "bextra")
    spark.range(7000, 7100).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).coalesce(1).write.parquet(extra)
    part = next(f for f in os.listdir(extra) if f.endswith(".parquet"))
    shutil.copy(os.path.join(extra, part), os.path.join(out, f"late-{part}"))
    stats = delete_by_keys(spark, out, "k", [7050])
    assert stats["rows_deleted"] == 1
    after = spark.read.parquet(out)
    assert after.count() == 2099
    assert after.filter(F.col("k") == 7050).count() == 0


def test_bloom_join_auto_sizing(spark):
    """num_bits=None sizes the join prefilter to the dim's distinct key
    count; result stays exactly equal to the plain semi/anti join."""
    from jibaro_spark.operators.bloom import bloom_join

    fact = spark.range(0, 50_000).select(
        F.col("id").alias("fk"), (F.col("id") % 7).alias("x")
    )
    dim = spark.range(0, 20_000, 2).select(F.col("id").alias("dk"))
    got = bloom_join(fact, dim, "fk", "dk", how="left_semi", num_bits=None)
    want = fact.join(dim, fact["fk"] == dim["dk"], "left_semi")
    assert got.count() == want.count() == 10_000
    got_anti = bloom_join(fact, dim, "fk", "dk", how="left_anti", num_bits=None)
    want_anti = fact.join(dim, fact["fk"] == dim["dk"], "left_anti")
    assert got_anti.count() == want_anti.count() == 40_000


def test_history_limit_reads_one_commit_file(spark, tmp_path, monkeypatch):
    table = _versioned(spark, tmp_path, "hist", commits=6)
    full = txlog.history(table)
    assert len(full) == 6 and full[0]["version"] == 5
    reads = []
    real = txlog._read_actions

    def spy(t, v):
        reads.append(v)
        return real(t, v)

    monkeypatch.setattr(txlog, "_read_actions", spy)
    top = txlog.history(table, limit=1)
    assert top == [full[0]]
    assert reads == [5], "limit=1 must read only the head commit file"
    reads.clear()
    assert txlog.history(table, limit=3) == full[:3]
    assert reads == [5, 4, 3]


def test_replace_conflict_with_concurrent_overwrite_raises(spark, tmp_path):
    """A racer overwrites the table between candidate selection and the
    replace commit: the doomed file is no longer live, so blindly
    committing its remove would corrupt the log — the live-set check
    inside the commit loop must refuse instead."""
    import pytest as _pytest

    table = _versioned(spark, tmp_path, "race", commits=2)
    victim = txlog.snapshot_files(table)[0]
    racer = spark.range(0, 10).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    txlog.write_versioned(racer.coalesce(1), table, mode="overwrite")
    kept = spark.range(0).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    with _pytest.raises(ValueError, match="not in current snapshot"):
        txlog.write_versioned(
            kept, table, mode="replace", replace_paths=[victim]
        )
    # the failed replace left the table state intact
    assert txlog.read_versioned(spark, table).count() == 10


def test_latest_version_pointer_fast_path_no_listing(spark, tmp_path, monkeypatch):
    table = _versioned(spark, tmp_path, "lvfast", commits=13)  # ckpt at 10
    assert txlog.latest_version(table) == 12
    calls = []
    real = txlog.os.listdir

    def spy(p):
        calls.append(p)
        return real(p)

    monkeypatch.setattr(txlog.os, "listdir", spy)
    assert txlog.latest_version(table) == 12
    assert calls == [], "pointer fast path must not list the log dir"
    monkeypatch.undo()
    # corrupt pointer → listing fallback, same answer
    ptr = os.path.join(table, txlog.LOG_DIR, "_last_checkpoint")
    with open(ptr, "w") as f:
        f.write("{broken")
    assert txlog.latest_version(table) == 12
    # fresh commits after the (repaired-later) pointer are still found
    os.unlink(ptr)
    df = spark.range(1).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    txlog.write_versioned(df.coalesce(1), table, mode="append")
    assert txlog.latest_version(table) == 13


def test_delete_empty_and_null_key_lists(spark, tmp_path):
    import pytest as _pytest

    out = os.path.join(str(tmp_path), "guards")
    spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).repartition(2, "k").write.parquet(out)
    stats = delete_by_keys(spark, out, "k", [])
    assert stats == {"files_total": 2, "files_rewritten": 0, "rows_deleted": 0}
    with _pytest.raises(ValueError, match="NULL keys"):
        delete_by_keys(spark, out, "k", [5, None])
    assert spark.read.parquet(out).count() == 100
    # txlog: the count is the snapshot's (the directory also holds the
    # first overwrite's dead file), and the result names no version
    table = os.path.join(str(tmp_path), "guards_v")
    for lo in (0, 100):
        df = spark.range(lo, lo + 100).select(F.col("id").alias("k"), F.lit(0).alias("v"))
        txlog.write_versioned(df.coalesce(1), table, mode="overwrite")
    head = txlog.latest_version(table)
    assert delete_by_keys(spark, table, "k", []) == {
        "files_total": 1, "files_rewritten": 0, "rows_deleted": 0, "version": None,
    }
    assert txlog.latest_version(table) == head


def test_versioned_delete_entire_file_contents(spark, tmp_path):
    """Deleting every row of a candidate file commits removes with no
    (or empty) adds — the snapshot simply shrinks to the other files."""
    table = os.path.join(str(tmp_path), "wipe")
    os.makedirs(table, exist_ok=True)
    a = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    b = spark.range(100, 200).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    txlog.write_versioned(a.coalesce(1), table, mode="append")
    txlog.write_versioned(b.coalesce(1), table, mode="append")
    stats = delete_by_keys(spark, table, "k", list(range(100)))
    assert stats["rows_deleted"] == 100
    cur = txlog.read_versioned(spark, table)
    assert cur.count() == 100
    assert cur.agg(F.min("k")).collect()[0][0] == 100


def test_vacuum_reclaims_replace_deleted_files(spark, tmp_path):
    table = _versioned(spark, tmp_path, "vrec", commits=2)
    pre_files = set(txlog.snapshot_files(table))
    stats = delete_by_keys(spark, table, "k", [10, 500])
    assert stats["rows_deleted"] == 2
    replaced = pre_files - set(txlog.snapshot_files(table))
    assert replaced and all(os.path.exists(f) for f in replaced)
    txlog.vacuum_versioned(table, keep_versions=1, min_file_age_s=0.0)
    assert all(not os.path.exists(f) for f in replaced), "replaced files reclaimed"
    cur = txlog.read_versioned(spark, table)
    assert cur.count() == 998
    assert cur.filter(F.col("k").isin([10, 500])).count() == 0
