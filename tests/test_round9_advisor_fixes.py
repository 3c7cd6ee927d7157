"""Round-9 advisor/verdict fixes (ADVICE r8 + VERDICT r8 items 2-4):

- parquet_file_stats must not sweep ``_bloom`` sidecar parquet into the
  stats lane (a sidecar for a DIFFERENT column used to crash
  delete_by_keys with a KeyError), and a file lacking a requested
  column reports None stats instead of raising;
- delete_by_keys updates ``_bloom`` sidecars INCREMENTALLY — never a
  full-table rescan — keeping the operator O(k files) end-to-end;
- delete_by_keys on a txlog-versioned table commits a transactional
  ``replace`` version: time travel to pre-delete snapshots keeps
  working, snapshot_files sees the rewrites, no live file is removed;
- compact()/optimize_zorder rebuild (never silently destroy or
  strand) ``_bloom`` sidecars;
- txlog: superseded checkpoints are pruned by vacuum, and the
  ``_last_checkpoint`` pointer serves checkpoint resolution without a
  directory listing;
- the ExactSubstr oracle and Spark kernel encode the same NULL-doc-id
  contract.
"""

from __future__ import annotations

import json
import os

import pytest
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
    parquet_file_stats,
    read_bloom_pruned,
)


def _scattered(spark, tmp_path, name="t", n=4000, files=8):
    out = str(tmp_path / name)
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartition(files, "k").write.mode("overwrite").parquet(out)
    return out


# ---------------------------------------------------------------- stats glob


def test_file_stats_skip_bloom_sidecars(spark, tmp_path):
    out = _scattered(spark, tmp_path, "statskip")
    build_bloom_file_index(spark, out, "v")
    stats = parquet_file_stats(out, ["k"])
    # only the 8 data files — no _bloom/v/{words,meta} parquet rows
    # (match on the path BELOW the table root: the pytest tmp dir is
    # named after this test and itself contains the substring "_bloom")
    assert len(stats) == 8
    assert all("_bloom" not in os.path.relpath(row["file"], out) for row in stats)
    assert all(row["k_min"] is not None for row in stats)


def test_file_stats_missing_column_is_none_not_keyerror(spark, tmp_path):
    out = _scattered(spark, tmp_path, "statmiss")
    stats = parquet_file_stats(out, ["k", "no_such_col"])
    assert len(stats) == 8
    for row in stats:
        assert row["no_such_col_min"] is None
        assert row["no_such_col_max"] is None
        assert row["k_min"] is not None


def test_delete_with_foreign_bloom_index_does_not_crash(spark, tmp_path):
    """The exact ADVICE r8 repro: a _bloom sidecar exists for column v;
    the delete targets column k, whose stats lane used to glob the
    sidecar parquet (no k column) and raise KeyError."""
    out = _scattered(spark, tmp_path, "foreign")
    build_bloom_file_index(spark, out, "v")
    stats = delete_by_keys(spark, out, "k", [42])
    assert stats["rows_deleted"] == 1
    after = spark.read.parquet(out)
    assert after.count() == 3999
    assert after.filter(F.col("k") == 42).count() == 0
    # and the v sidecar was incrementally reconciled, not dropped:
    # a point read on a surviving v value stays exact
    got = read_bloom_pruned(spark, out, "v", 43 % 97).count()
    assert got == spark.read.parquet(out).filter(F.col("v") == 43 % 97).count()


# ------------------------------------------------- incremental sidecar upkeep


def test_delete_updates_bloom_incrementally_no_table_rescan(
    spark, tmp_path, monkeypatch
):
    out = _scattered(spark, tmp_path, "incr")
    build_bloom_file_index(spark, out, "k")
    words_dir = os.path.join(out, "_bloom", "k", "words")
    before = {
        (r["file"].rsplit("/", 1)[-1], r["word_idx"]): r["word"]
        for r in spark.read.parquet(words_dir).collect()
    }
    dirs_before = _index_dirs(words_dir)
    live_before = _names(spark.read.parquet(out).inputFiles())

    def _forbid(*a, **kw):  # a full rebuild would rescan the table
        raise AssertionError("full build_bloom_file_index called during delete")

    monkeypatch.setattr(mnt, "build_bloom_file_index", _forbid)
    s1 = delete_by_keys(spark, out, "k", [100])
    s2 = delete_by_keys(spark, out, "k", [200, 300])
    monkeypatch.undo()

    assert s1["rows_deleted"] == 1 and s2["rows_deleted"] == 2
    assert s1["files_rewritten"] <= 3 and s2["files_rewritten"] <= 4
    after_df = spark.read.parquet(out)
    assert after_df.count() == 3997
    # zero false negatives after two incremental updates
    for probe in (0, 99, 101, 1501, 3999):
        assert read_bloom_pruned(spark, out, "k", probe).count() == 1, probe
    assert read_bloom_pruned(spark, out, "k", 100).count() == 0
    assert read_bloom_pruned(spark, out, "k", 200).count() == 0
    # untouched files' index rows survive byte-identical (left in
    # place, not recomputed), and rewritten originals are gone
    live_names = {f.rsplit("/", 1)[-1] for f in after_df.inputFiles()}
    after = {
        (r["file"].rsplit("/", 1)[-1], r["word_idx"]): r["word"]
        for r in spark.read.parquet(words_dir).collect()
    }
    assert {name for name, _ in after} == {
        n for n in live_names
    }, "index rows must cover exactly the live files"
    for key, word in after.items():
        if key in before:
            assert word == before[key], "surviving rows must be unchanged"
    # per file: the rewritten files' index dirs are gone, and every
    # other file's dir is left as it was (same files, sizes, mtimes)
    dirs_after = _index_dirs(words_dir)
    removed = live_before - live_names
    assert removed and not {f"file={n}" for n in removed} & dirs_after.keys()
    for name in live_before & live_names:
        assert dirs_after[f"file={name}"] == dirs_before[f"file={name}"], name


def _index_dirs(words_dir):
    """``{file=<name> dir: sorted (entry, size, mtime_ns)}`` of an index."""
    return {
        d.name: sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(d.path)
        )
        for d in os.scandir(words_dir)
        if d.name.startswith("file=")
    }


# --------------------------------------------------------- txlog delete path


def _versioned_table(spark, tmp_path, name="vt"):
    table = str(tmp_path / name)
    os.makedirs(table, exist_ok=True)
    df1 = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    df2 = spark.range(500, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    txlog.write_versioned(df1.repartition(3, "k"), table, mode="append")
    txlog.write_versioned(df2.repartition(3, "k"), table, mode="append")
    return table


def test_delete_on_versioned_table_is_transactional(spark, tmp_path):
    table = _versioned_table(spark, tmp_path)
    pre_head = txlog.latest_version(table)
    pre_files = set(txlog.snapshot_files(table))
    stats = delete_by_keys(spark, table, "k", [123, 456, 789])
    assert stats["rows_deleted"] == 3
    assert stats["version"] == pre_head + 1
    # current read excludes the keys
    cur = txlog.read_versioned(spark, table)
    assert cur.count() == 997
    assert cur.filter(F.col("k").isin([123, 456, 789])).count() == 0
    # time travel to the pre-delete snapshot still sees every row
    old = txlog.read_versioned(spark, table, version=pre_head)
    assert old.count() == 1000
    assert old.filter(F.col("k").isin([123, 456, 789])).count() == 3
    # no live file was os.remove'd: the pre-delete snapshot's files all
    # still exist on disk (reclaim is vacuum's job, not delete's)
    assert all(os.path.exists(f) for f in pre_files)
    # the new snapshot references the rewrites, not the replaced files
    new_files = set(txlog.snapshot_files(table))
    replaced = pre_files - new_files
    assert 1 <= len(replaced) == stats["files_rewritten"]
    assert new_files - pre_files, "rewrites must appear in the snapshot"
    # the commit is visible in history as a DELETE
    assert txlog.history(table)[0]["operation"] == "DELETE (k)"


def test_versioned_delete_absent_keys_is_noop_commit_free(spark, tmp_path):
    table = _versioned_table(spark, tmp_path, "vt2")
    head = txlog.latest_version(table)
    # keys far outside every file's min/max → zero candidates → no commit
    stats = delete_by_keys(spark, table, "k", [10_000_000])
    assert stats["files_rewritten"] == 0 and stats["rows_deleted"] == 0
    assert stats["version"] is None
    assert txlog.latest_version(table) == head


def test_replace_mode_rejects_non_snapshot_paths(spark, tmp_path):
    table = _versioned_table(spark, tmp_path, "vt3")
    df = spark.range(1).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    with pytest.raises(ValueError, match="not in current snapshot"):
        txlog.write_versioned(
            df, table, mode="replace", replace_paths=["no-such-file.parquet"]
        )
    with pytest.raises(ValueError, match="replace_paths"):
        txlog.write_versioned(df, table, mode="replace")
    with pytest.raises(ValueError, match="replace_paths"):
        txlog.write_versioned(df, table, mode="append", replace_paths=["x"])


# ------------------------------------------- compaction sidecar invalidation


def _layout(spark, out, layout, n=4000, files=8):
    """``n`` rows in ``files`` files at ``out``: a bare parquet dir, or
    a txlog table whose directory also holds a dead generation."""
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    if layout == "bare":
        df.repartition(files, "k").write.mode("overwrite").parquet(out)
    else:
        txlog.write_versioned(df.limit(10).coalesce(1), out)
        txlog.write_versioned(df.repartition(files, "k"), out, mode="overwrite")
    return out


def _names(files):
    return {f.rsplit("/", 1)[-1] for f in files}


def _index_covers_exactly_live_files(spark, out):
    """The ``_bloom/k`` sidecar has rows for every live file and for
    no other file."""
    if txlog.latest_version(out) is not None:
        live = txlog.snapshot_files(out)
    else:
        live = spark.read.parquet(out).inputFiles()
    words = spark.read.parquet(os.path.join(out, "_bloom", "k", "words"))
    indexed = [r["file"] for r in words.select("file").distinct().collect()]
    return bool(live) and _names(indexed) == _names(live)


@pytest.mark.parametrize("layout", ["bare", "txlog"])
def test_compact_rebuilds_bloom_sidecar(spark, tmp_path, layout):
    settings = Settings(protocol="file", base_path=str(tmp_path))
    lake = Catalog(settings)
    ref = TableRef("curated", "lab", "db", "blm")
    out = _layout(spark, lake.path(ref), layout)
    build_bloom_file_index(spark, out, "k")
    assert compact(spark, lake, ref, force=True) is True
    # the sidecar survived the rewrite (updated, not destroyed/stranded)
    assert os.path.isdir(os.path.join(out, "_bloom", "k", "words"))
    pruned = read_bloom_pruned(spark, out, "k", 1234)
    assert [(r["k"], r["v"]) for r in pruned.collect()] == [(1234, 1234 % 97)]
    # index rows reference exactly the POST-compaction files
    assert _index_covers_exactly_live_files(spark, out)


@pytest.mark.parametrize("layout", ["bare", "txlog"])
def test_optimize_zorder_rebuilds_bloom_sidecar(spark, tmp_path, layout):
    out = _layout(spark, str(tmp_path / "zblm"), layout)
    build_bloom_file_index(spark, out, "k")
    n = optimize_zorder(spark, out, ["k", "v"], target_file_bytes=16 * 1024)
    assert n >= 1
    assert os.path.isdir(os.path.join(out, "_bloom", "k", "words"))
    pruned = read_bloom_pruned(spark, out, "k", 777)
    assert [(r["k"], r["v"]) for r in pruned.collect()] == [(777, 777 % 97)]
    assert _index_covers_exactly_live_files(spark, out)


# --------------------------------------------------- txlog checkpoint upkeep


def _commit_n(spark, table, n, rows_per=10):
    for i in range(n):
        df = spark.range(i * rows_per, (i + 1) * rows_per).select(
            F.col("id").alias("k")
        )
        txlog.write_versioned(df.coalesce(1), table, mode="append")


def test_vacuum_prunes_superseded_checkpoints(spark, tmp_path):
    table = str(tmp_path / "ckpt")
    os.makedirs(table, exist_ok=True)
    _commit_n(spark, table, 31)  # versions 0..30 → checkpoints 10, 20, 30
    logdir = os.path.join(table, txlog.LOG_DIR)
    have = sorted(
        f for f in os.listdir(logdir) if f.endswith(".checkpoint.json")
    )
    assert len(have) == 3
    txlog.vacuum_versioned(table, keep_versions=5, min_file_age_s=0.0)
    # cutoff = 26; newest checkpoint <= 26 is 20 (kept — it serves
    # reads in [26, 30)); checkpoint 10 is superseded and pruned
    left = sorted(
        int(f[: -len(".checkpoint.json")])
        for f in os.listdir(logdir)
        if f.endswith(".checkpoint.json")
    )
    assert left == [20, 30]
    # retained window reads stay exact after pruning
    assert txlog.read_versioned(spark, table, version=26).count() == 270
    assert txlog.read_versioned(spark, table).count() == 310


def test_last_checkpoint_pointer_fast_path(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "ptr")
    os.makedirs(table, exist_ok=True)
    _commit_n(spark, table, 21)  # checkpoints at 10 and 20
    ptr = os.path.join(table, txlog.LOG_DIR, "_last_checkpoint")
    assert os.path.exists(ptr)
    with open(ptr) as f:
        assert json.load(f)["version"] == 20
    # the fast path answers at-head resolution without listing the dir
    calls = []
    real_listdir = os.listdir

    def spy(p):
        calls.append(p)
        return real_listdir(p)

    monkeypatch.setattr(txlog.os, "listdir", spy)
    assert txlog._latest_checkpoint_at_or_below(table, 20) == 20
    assert calls == [], "pointer hit must not list the log directory"
    monkeypatch.undo()
    # requests BELOW the pointer fall back to the listing, correctly
    assert txlog._latest_checkpoint_at_or_below(table, 19) == 10
    assert txlog._latest_checkpoint_at_or_below(table, 9) is None
    # a corrupt pointer degrades to the listing, never to a wrong answer
    with open(ptr, "w") as f:
        f.write("not json")
    assert txlog._latest_checkpoint_at_or_below(table, 20) == 20
    # and the next checkpoint write repairs it
    _commit_n(spark, table, 10)  # through version 30 → checkpoint 30
    with open(ptr) as f:
        assert json.load(f)["version"] == 30


# ------------------------------------------------ ExactSubstr NULL contract


def test_exact_substring_null_doc_id_contract(spark):
    """A NULL-id document whose text duplicates real documents' text
    must produce NO island rows on EITHER side (ADVICE r8: the oracle
    used to emit them; the Spark kernel never did)."""
    import duckdb

    from jibaro_spark.operators.dedup import duplicated_char_spans
    from jibaro_spark.queries.dedup import QEXSUB_ORACLE

    boiler = "x" * 60
    rows = [
        (1, "aaa" + boiler + "bbb"),
        (2, "ccc" + boiler + "ddd"),
        (None, "eee" + boiler + "fff"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = (
        duplicated_char_spans(docs, "doc_id", "text", k=40, min_docs=2)
        .orderBy("doc_id", "span_start")
        .collect()
    )
    assert {r["doc_id"] for r in got} == {1, 2}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({'NULL' if i is None else i}, '{t}')" for i, t in rows
        )
        + ") AS t(doc_id, text)"
    )
    oracle = con.execute(QEXSUB_ORACLE).fetchall()
    con.close()
    assert {r[0] for r in oracle} == {1, 2}
    assert sorted((r["doc_id"], r["span_start"], r["span_end"]) for r in got) == sorted(
        (r[0], r[1], r[2]) for r in oracle
    )
