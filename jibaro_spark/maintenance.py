"""Table maintenance (SURVEY §7.2 M5): small-file compaction, history
metrics, symlink manifest, vacuum policy.

Delta-backed when delta-spark is on the classpath (transactional
``dataChange=false`` rewrite, ``DeltaTable.history/generate/vacuum``,
reference ``jibaro/datalake/delta_handler.py:9-35``, ``cdc.py:224-269``);
on bare parquet, compaction and history degrade to honest emulations
(non-transactional rewrite; file-listing metrics) and vacuum/manifest
are no-ops with a warning — at 100 TB you run the Delta path.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jibaro_spark.catalog import Catalog, TableRef
from jibaro_spark.session import has_delta


@dataclass(frozen=True)
class TableStats:
    num_files: int
    size_bytes: int


def table_stats(spark: SparkSession, path: str) -> TableStats:
    """File count + byte size of a table directory via the Hadoop FS
    API (driver-side metadata only; reference ``delta_handler.py:15-24``
    reads the same numbers from the Delta snapshot)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return TableStats(0, 0)
    root = fs.makeQualified(p).toString().rstrip("/")
    num, size = 0, 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        full = f.getPath().toString()
        # skip metadata at ANY depth below the table root: files under
        # _/.-prefixed directories (_bloom sidecars, _jibaro_log commit
        # JSONs, checkpoints) are not data and must not count toward
        # compaction triggers or size targets (only the file's own
        # basename used to be checked, so sidecar/log files leaked in)
        rel = full[len(root) + 1 :] if full.startswith(root + "/") else full
        if any(part.startswith(("_", ".")) for part in rel.split("/")):
            continue
        num += 1
        size += f.getLen()
    return TableStats(num, size)


def target_file_count(size_bytes: int, target_file_bytes: int) -> int:
    """How many files a rewrite of ``size_bytes`` of data writes:
    ``ceil(size / target)``, at least one — the sizing rule shared by
    compaction, OPTIMIZE ZORDER and the CDC merge write."""
    return max(1, math.ceil(size_bytes / target_file_bytes))


def compact(
    spark: SparkSession,
    catalog: Catalog,
    ref: TableRef,
    force: bool = False,
) -> bool:
    """Small-file compaction (reference ``delta_handler.py:9-35``):
    when ``numFiles > compact_min_files``, rewrite the table into
    ``ceil(sizeInBytes / compact_target_file_bytes)`` files.

    The reference targets 1 MiB files — pathological at scale; our
    default target is 128 MiB (Settings.compact_target_file_bytes).
    It catches tables built by many appends (e.g. the
    ``idempotent_batch_writer`` sink), not steady-state CDC merges:
    :func:`jibaro_spark.operators.cdc.cdc_merge_table` already writes
    its result at this target size, so after a merge the file count is
    normally under the threshold and this returns False.  Delta path
    sets ``dataChange=false`` so downstream streams skip the rewrite.
    Returns True when a rewrite happened.

    ``_bloom`` sidecars (:func:`build_bloom_file_index`) are keyed by
    FILE, so a compaction invalidates them wholesale: the bare-parquet
    overwrite would silently destroy them (a cost regression for later
    point reads) and the Delta overwrite would strand them STALE (the
    false-negative class — old files indexed, new files not).  Their
    parameters are captured before the rewrite and each index is
    rebuilt after (VERDICT r8 item 4); a full rebuild is proportionate
    here because compaction itself already rewrote the whole table.

    On a ``jibaro_spark.txlog`` versioned table the rewrite dispatches
    to :func:`jibaro_spark.txlog.compact_versioned` (an OPTIMIZE
    commit): the bare-parquet overwrite here would read dead versions'
    files alongside live ones (duplicated rows) and then destroy the
    log — the same versioned-table dispatch ``vacuum_if_due``,
    ``generate_manifest``, and ``delete_by_keys`` perform.  The file
    count that gates the rewrite is the SNAPSHOT's, not the
    directory's (which also holds not-yet-vacuumed history).
    """
    from jibaro_spark import txlog

    s = catalog.settings
    path = catalog.path(ref)
    local = path.replace("file:", "")
    if txlog.latest_version(local) is not None:
        files = txlog.snapshot_files(local)
        if not files or (not force and len(files) <= s.compact_min_files):
            return False
        bloom_metas = _bloom_sidecar_metas(spark, local)
        txlog.compact_versioned(
            spark, local, target_file_bytes=s.compact_target_file_bytes
        )
        for bloom_col, (num_bits, num_hashes) in bloom_metas.items():
            build_bloom_file_index(
                spark, local, bloom_col, num_bits=num_bits, num_hashes=num_hashes
            )
        return True
    stats = table_stats(spark, path)
    if not force and stats.num_files <= s.compact_min_files:
        return False
    if stats.num_files == 0:
        return False
    bloom_metas = _bloom_sidecar_metas(spark, path.replace("file:", ""))
    n_parts = target_file_count(stats.size_bytes, s.compact_target_file_bytes)
    if has_delta(spark):
        df = spark.read.format("delta").load(path)
        (
            df.repartition(n_parts)
            .write.format("delta")
            .mode("overwrite")
            .option("dataChange", "false")
            .save(path)
        )
    else:
        df = spark.read.parquet(path).localCheckpoint(eager=True)
        df.repartition(n_parts).write.mode("overwrite").parquet(path)
    for bloom_col, (num_bits, num_hashes) in bloom_metas.items():
        build_bloom_file_index(
            spark, path, bloom_col, num_bits=num_bits, num_hashes=num_hashes
        )
    return True


def append_history_metrics(
    spark: SparkSession,
    catalog: Catalog,
    ref: TableRef,
    operation: str,
    extra: dict[str, str] | None = None,
) -> None:
    """Append per-operation metrics to the table's history table under
    the control bucket (reference ``cdc.py:224-247``: Delta
    ``history()`` + ``numFiles`` column → Delta append).

    Delta path appends the latest ``DeltaTable.history(1)`` row, and
    its schema evolves with ``mergeSchema`` like the reference (K2/K8).

    On a ``jibaro_spark.txlog`` table the whole append runs on the
    driver with no Spark job, as ``generate_manifest`` does: the row
    is the latest commit's version/operation/``numAdded`` plus
    ``numFiles``/``sizeBytes`` of THAT commit's snapshot (from the
    log's add actions — files removed but not yet vacuumed do not
    count, as in the reference's Delta snapshot), written as one
    parquet file with pyarrow (:func:`_write_history_row`).

    The bare-parquet path appends one metrics row over the directory's
    file listing as one parquet file: the row is built on the JVM
    (:func:`_history_row`), so the append runs no Python job and
    writes no empty part files.
    """
    from jibaro_spark import txlog

    path = catalog.path(ref)
    hist_path = catalog.history_path(ref)
    if txlog.latest_version(path) is not None:
        # limit=1 reads ONE log file, not the whole history per merge
        c = txlog.history(path, limit=1)[0]
        version = int(c["version"])
        _write_history_row(
            hist_path,
            {
                "version": version,
                "operation": str(c["operation"]),
                "numAdded": int(c.get("num_added", 0)),
                "numFiles": len(txlog.snapshot_files(path, version)),
                "sizeBytes": txlog.snapshot_bytes(path, version),
                **({k: str(v) for k, v in (extra or {}).items()}),
            },
        )
        return
    stats = table_stats(spark, path)
    if has_delta(spark):
        from delta.tables import DeltaTable

        dt = DeltaTable.forPath(spark, path)
        hist = (
            dt.history(1)
            .withColumn("numFiles", F.lit(stats.num_files))
            .withColumn("sizeBytes", F.lit(stats.size_bytes))
        )
        writer = hist.write.format("delta").mode("append").option("mergeSchema", "true")
        writer.save(hist_path)
        return
    row = {
        "operation": operation,
        "numFiles": stats.num_files,
        "sizeBytes": stats.size_bytes,
        **(extra or {}),
    }
    _history_row(spark, row).write.mode("append").parquet(hist_path)


def _write_history_row(hist_path: str, row: dict) -> None:
    """Append ``row`` plus a ``recordedAt`` timestamp to the local
    history table at ``hist_path`` as one parquet file written with
    pyarrow.  The columns match :func:`_history_row`'s: keys in sorted
    order, ints as ``long``, the rest as ``string``, then
    ``recordedAt`` as a UTC microsecond timestamp (Spark's
    ``timestamp``).  The file is written under a ``.``-prefixed name,
    which readers skip, and renamed into place, so no reader sees a
    partial file."""
    import datetime
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        k: pa.array([v], pa.int64() if type(v) is int else pa.string())
        for k, v in sorted(row.items())
    }
    cols["recordedAt"] = pa.array(
        [datetime.datetime.now(datetime.timezone.utc)], pa.timestamp("us", tz="UTC")
    )
    os.makedirs(hist_path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(hist_path, f".{name}")
    # no ARROW:schema footer entry: Spark does not read it, and it
    # would make a 2.4 KB file 3.1 KB
    pq.write_table(pa.table(cols), tmp, store_schema=False)
    os.replace(tmp, os.path.join(hist_path, name))


def _history_row(spark: SparkSession, row: dict) -> DataFrame:
    """``row`` plus a ``recordedAt`` timestamp as a one-partition,
    one-row frame built from literals on the JVM.  The columns are the
    ones ``createDataFrame([row])`` infers — keys in sorted order,
    Python ints as ``long`` — so the history schema is unchanged."""

    def lit(v):
        return F.lit(v).cast("long") if type(v) is int else F.lit(v)

    return spark.range(1, numPartitions=1).select(
        *[lit(v).alias(k) for k, v in sorted(row.items())],
        F.current_timestamp().alias("recordedAt"),
    )


def generate_manifest(spark: SparkSession, catalog: Catalog, ref: TableRef) -> bool:
    """Symlink manifest for Trino/Athena/Hive interop (reference
    ``cdc.py:261-262``).

    A symlink manifest is a plain text file —
    ``_symlink_format_manifest/manifest`` — listing the absolute URIs
    of exactly the table's live data files; engines reading through
    Hive's ``SymlinkTextInputFormat`` (Trino/Athena/Presto, the
    reference's ``lake_lab`` clients stack) scan those files instead
    of listing the directory, which is what makes a
    multi-version/vacuumed table readable to them.  Delta tables get
    ``DeltaTable.generate``; ``jibaro_spark.txlog`` versioned tables
    (r5) get the SAME artifact computed from the log's current
    snapshot — so the interop path is REAL without the jars.  Plain
    parquet directories fall back to listing their part files (every
    file is live by definition).  Returns False only when the path
    does not exist."""
    import os

    from jibaro_spark import txlog

    path = catalog.path(ref)
    head = txlog.latest_version(path)
    if head is not None:
        files = txlog.snapshot_files(path)
    elif has_delta(spark):
        from delta.tables import DeltaTable

        DeltaTable.forPath(spark, path).generate("symlink_format_manifest")
        return True
    elif os.path.isdir(path):
        # recurse so Hive-partitioned layouts (part files under
        # key=value subdirs) produce a non-empty manifest; _/.-prefixed
        # dirs (logs, checkpoints, the manifest itself) are pruned
        files = []
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [
                d for d in dirnames if not d.startswith(("_", "."))
            ]
            files.extend(
                os.path.join(dirpath, f)
                for f in filenames
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
        files.sort()
        if not files:
            # a directory with no data files would write an EMPTY
            # manifest that external engines read as a zero-row table
            # with no error signal (ADVICE r5) — refuse instead
            return False
    else:
        return False
    manifest_dir = os.path.join(path, "_symlink_format_manifest")
    os.makedirs(manifest_dir, exist_ok=True)
    tmp = os.path.join(manifest_dir, ".manifest.tmp")
    with open(tmp, "w") as f:
        for p in files:
            f.write("file://" + os.path.abspath(p) + "\n")
    os.replace(tmp, os.path.join(manifest_dir, "manifest"))
    return True


def vacuum_if_due(spark: SparkSession, catalog: Catalog, ref: TableRef) -> bool:
    """Vacuum every ``vacuum_every_n_versions`` table versions with
    ``vacuum_retention_hours`` retention (reference ``cdc.py:264-269``:
    every 25 versions, 768 h).

    Runs on Delta, and — r5 — on ``jibaro_spark.txlog`` versioned
    parquet tables, where the reference's version-cadence policy
    becomes REAL without the jars: every N log versions, data files
    outside the retained window are reclaimed (retention expressed in
    versions; time travel inside the window keeps working)."""
    from jibaro_spark import txlog

    path = catalog.path(ref)
    s = catalog.settings
    head = txlog.latest_version(path)
    if head is not None:
        if head == 0 or head % s.vacuum_every_n_versions != 0:
            return False
        txlog.vacuum_versioned(
            path,
            keep_versions=s.vacuum_every_n_versions,
            # the reference's retention window (768 h) doubles as the
            # concurrent-writer guard: only files older than it are
            # reclaimed (txlog.vacuum_versioned docstring)
            min_file_age_s=s.vacuum_retention_hours * 3600.0,
        )
        return True
    if not has_delta(spark):
        return False
    from delta.tables import DeltaTable

    s = catalog.settings
    dt = DeltaTable.forPath(spark, catalog.path(ref))
    version = dt.history(1).select(F.max("version")).collect()[0][0] or 0
    if version % s.vacuum_every_n_versions != 0:
        return False
    dt.vacuum(s.vacuum_retention_hours)
    return True


def standard_post_hooks():
    """The curated-layer maintenance sequence the reference runs after
    every merge (``cdc.py:220-269``): compact → history → manifest →
    vacuum-if-due, as ``staged_to_curated`` post_hooks."""

    def run(spark: SparkSession, catalog: Catalog, ref: TableRef) -> None:
        compact(spark, catalog, ref)
        append_history_metrics(spark, catalog, ref, operation="MERGE")
        generate_manifest(spark, catalog, ref)
        vacuum_if_due(spark, catalog, ref)

    return [run]


def _table_base(spark: SparkSession, path: str) -> "tuple[DataFrame, list[str] | None]":
    """(DataFrame, snapshot file list) for a table path — the
    versioned-table dispatch shared by the stats/bloom read helpers:
    on a ``jibaro_spark.txlog`` table the DataFrame reads exactly the
    current snapshot's files (a whole-directory read would include
    dead versions' files — duplicated rows); on a Delta table
    (jar-gated) the read goes through the Delta snapshot for the same
    reason — Delta also keeps tombstoned files on disk until vacuum;
    on bare parquet it is a plain directory read and the file list is
    None (callers glob or use ``inputFiles``)."""
    import os

    from jibaro_spark import txlog

    local = path.replace("file:", "")
    head = txlog.latest_version(local)
    if head is not None:
        files = txlog.snapshot_files(local, head)
        return txlog.read_versioned(spark, local, head), files
    if os.path.isdir(os.path.join(local, "_delta_log")) and has_delta(spark):
        df = spark.read.format("delta").load(path)
        return df, sorted(set(df.inputFiles()))
    return spark.read.parquet(path), None


def parquet_file_stats(
    path: str, columns: list[str], files: "list[str] | None" = None
) -> list[dict]:
    """Per-FILE min/max statistics for ``columns`` of a parquet
    directory, read from the parquet footers (no data scan) — the
    data-skipping introspection layer: this is exactly the metadata a
    lakehouse engine (Delta stats, Iceberg manifests, Spark's own
    parquet row-group filter pushdown) consults to prune files, and
    what :func:`jibaro_spark.operators.relational.layout_zorder`
    shrinks per-file so multi-key predicates skip.

    Returns one dict per data file: ``{"file", "num_rows",
    "<col>_min", "<col>_max", ...}``.  The loop is per FILE and
    footer-only — bounded by file count, never data size; at
    production scale the same numbers come from the table format's
    stats (Delta ``add.stats``), this reads them where only bare
    parquet exists.  Column values must be footer-stat types
    (numeric/string/date/timestamp).

    Pass ``files`` to stat an explicit file list (e.g. a txlog
    snapshot) instead of globbing ``path``.  The glob skips files
    under ``_``/``.``-prefixed directories — sidecars (``_bloom``),
    logs, and checkpoints are metadata, not data, and their parquet
    files typically lack the requested columns (ADVICE r8: a
    ``_bloom`` sidecar for a DIFFERENT column used to crash the stats
    lane).  Defensively, a file whose schema lacks a requested column
    reports ``None`` stats for it (never prunable) instead of raising.
    """
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    out: list[dict] = []
    if files is None:
        root = _os.path.abspath(path)
        files = sorted(
            f
            for f in _glob.glob(
                _os.path.join(path, "**", "*.parquet"), recursive=True
            )
            if _os.path.isfile(f)
            and not any(
                part.startswith(("_", "."))
                for part in _os.path.relpath(
                    _os.path.abspath(f), root
                ).split(_os.sep)[:-1]
            )
        )
    else:
        files = sorted(f.replace("file:", "") for f in files)
    for f in files:
        md = _pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        row: dict = {"file": f, "num_rows": md.num_rows}
        for c in columns:
            mn = mx = None
            if c in names:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(names[c]).statistics
                    if st is None or not st.has_min_max:
                        mn = mx = None
                        break
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
            row[f"{c}_min"], row[f"{c}_max"] = mn, mx
        out.append(row)
    return out


def optimize_zorder(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    bits: int = 16,
) -> int:
    """OPTIMIZE ZORDER for a parquet table: rewrite the table
    range-partitioned + sorted by the Morton value of ``key_cols``
    (:func:`jibaro_spark.operators.relational.layout_zorder`), sized to
    ``target_file_bytes`` per output file — the engine-native form of
    Delta's ``OPTIMIZE ... ZORDER BY`` (reference maintenance surface,
    ``delta_handler.py:9-35`` + Trino interop target).  After the
    rewrite every file is bounded in EVERY key (verify with
    :func:`parquet_file_stats`), so min/max skipping serves predicates
    on any of them.

    Returns the number of output files.  On a txlog-versioned table
    this dispatches to :func:`jibaro_spark.txlog.compact_versioned`
    with the Z-order columns (the rewrite becomes an OPTIMIZE ZORDER
    commit; the rmtree swap below would have destroyed the log and
    read dead files).  Bare parquet (non-transactional) otherwise: the
    rewrite goes through a temp dir + atomic-ish rename swap; on Delta
    the same layout write carries ``dataChange=false``.
    """
    import shutil as _shutil
    import uuid as _uuid

    from jibaro_spark import txlog
    from jibaro_spark.operators.relational import layout_zorder

    local = path.replace("file:", "")
    if txlog.latest_version(local) is not None:
        n_files = target_file_count(txlog.snapshot_bytes(local), target_file_bytes)
        bloom_metas = _bloom_sidecar_metas(spark, local)
        txlog.compact_versioned(
            spark,
            local,
            target_file_bytes=target_file_bytes,
            zorder_cols=list(key_cols),
            zorder_bits=bits,
        )
        for bloom_col, (num_bits, num_hashes) in bloom_metas.items():
            build_bloom_file_index(
                spark, local, bloom_col, num_bits=num_bits, num_hashes=num_hashes
            )
        return n_files
    st = table_stats(spark, path)
    # same sidecar contract as compact(): the rmtree below would
    # silently destroy any _bloom index — capture params, rebuild after
    bloom_metas = _bloom_sidecar_metas(spark, path.replace("file:", ""))
    n_files = target_file_count(st.size_bytes, target_file_bytes)
    tmp = f"{path.rstrip('/')}__zopt_{_uuid.uuid4().hex[:8]}"
    df = spark.read.parquet(path)
    layout_zorder(df, *key_cols, num_partitions=n_files, bits=bits).write.parquet(
        tmp
    )
    _shutil.rmtree(path)
    _shutil.move(tmp, path)
    for bloom_col, (num_bits, num_hashes) in bloom_metas.items():
        build_bloom_file_index(
            spark, path, bloom_col, num_bits=num_bits, num_hashes=num_hashes
        )
    return n_files


def read_pruned(
    spark: SparkSession,
    path: str,
    ranges: "dict[str, tuple]",
) -> "DataFrame":
    """Stats-pruned parquet read: consult the per-file footer min/max
    (:func:`parquet_file_stats`) and hand Spark ONLY the files whose
    stat range intersects every ``col: (lo, hi)`` predicate (either
    bound may be None for half-open), then re-apply the predicate as a
    residual filter — the engine-side form of Delta/Iceberg
    file skipping, closing the loop on :func:`optimize_zorder`: write
    clustered, read pruned.

    Semantics: exactly ``read.parquet(path).filter(...)`` (the residual
    filter guarantees it; files with missing stats are conservatively
    KEPT), but the listing handed to Spark shrinks with clustering
    quality — on a Z-ordered table a 2-key box probe reads a few files
    instead of all of them (pinned by test).  The footer pass is
    file-count-bounded; at production scale the same pruning comes
    from the table format's stats manifest instead of footers.
    """
    from pyspark.sql import functions as F

    base, snapshot = _table_base(spark, path)
    cols = list(ranges.keys())
    stats = parquet_file_stats(path, cols, files=snapshot)
    keep: list[str] = []
    for row in stats:
        admit = True
        for c, (lo, hi) in ranges.items():
            mn, mx = row.get(f"{c}_min"), row.get(f"{c}_max")
            if mn is None or mx is None:
                continue  # no stats → cannot prune this file
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                admit = False
                break
        if admit:
            keep.append(row["file"])
    if not keep:
        out = base.filter(F.lit(False))
    else:
        out = spark.read.schema(base.schema).parquet(*keep)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            out = out.filter(F.col(c) >= lo)
        if hi is not None:
            out = out.filter(F.col(c) <= hi)
    return out


def build_bloom_file_index(
    spark: SparkSession,
    path: str,
    col: str,
    num_bits: "int | None" = None,
    num_hashes: int = 4,
) -> str:
    """Build a per-FILE Bloom-filter index over ``col`` for a parquet
    table — the point-lookup companion of :func:`read_pruned`'s
    min/max skipping (range probes): Delta calls this a bloom filter
    index, Iceberg puts the same bits in puffin files.  Min/max stats
    cannot prune point lookups on unclustered high-cardinality keys
    (every file's range covers the probe); a per-file Bloom does,
    with zero false negatives by construction.

    One scan builds every file's filter simultaneously:
    ``input_file_name()`` keys the rows, each value explodes to its
    ``num_hashes`` bit positions (same seeded-xxhash64 family as
    ``operators/bloom.py``, so filters are portable), and a
    ``bit_or`` per (file, word) folds map-side.  The sparse (file,
    word_idx, word) rows — at most ``files × num_bits/64``, zero
    words omitted — land in a ``_bloom`` sidecar dir (the leading
    underscore keeps every parquet reader from listing it as data).

    ``num_bits=None`` (the default) SIZES THE FILTER TO THE DATA: a
    fixed width silently saturates on dense files — 20k keys into the
    old 2¹⁶-bit default left ~70% of bits set, a ~25% false-positive
    rate PER KEY per file, so a multi-key probe admitted nearly every
    file and "pruned" reads/deletes regressed to table scans (measured
    in ``scripts/delete_scale_demo.py`` before this fix).  Auto-sizing
    reads per-file row counts from the parquet FOOTERS (no data scan)
    and allocates ~10 bits per row of the largest file (the standard
    m = −n·ln p/ln²2 at p≈1%), clamped to [2¹³, 2²⁴] — ≤2 MiB of
    filter per file, a ~2% overhead on 128 MiB files.  Explicit
    ``num_bits`` is honored unchanged (rebuilds preserve the original
    parameters via the sidecar's meta).

    Returns the sidecar path.  Rebuild after writes; the index is a
    snapshot, like any stats manifest.  On a txlog-versioned table the
    build scans the current SNAPSHOT's files (a whole-directory read
    would index dead versions' files — phantom candidates — and their
    rows would double-count).
    """
    idx_path = f"{path.rstrip('/')}/_bloom/{col}"
    base, snapshot = _table_base(spark, path)
    if num_bits is None:
        rows = parquet_file_stats(
            path, [], files=snapshot or sorted(set(base.inputFiles()))
        )
        max_rows = max((r["num_rows"] for r in rows), default=1)
        num_bits = 1 << max(13, min(24, math.ceil(math.log2(max(10 * max_rows, 2)))))
    words = _bloom_words(base, col, num_bits, num_hashes)
    meta = spark.createDataFrame(
        [(num_bits, num_hashes)], "num_bits int, num_hashes int"
    )
    words.write.mode("overwrite").parquet(f"{idx_path}/words")
    meta.write.mode("overwrite").parquet(f"{idx_path}/meta")
    return idx_path


def _bloom_words(df: DataFrame, col: str, num_bits: int, num_hashes: int) -> DataFrame:
    """The (file, word_idx, word) sparse Bloom rows for ``df``'s files
    — the shared kernel of :func:`build_bloom_file_index` (full table)
    and the incremental sidecar update in :func:`delete_by_keys`
    (new files only)."""
    keyed = df.select(F.input_file_name().alias("file"), F.col(col).alias("__k"))
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col("__k"), F.lit(i)), F.lit(num_bits))
                for i in range(num_hashes)
            ]
        )
    ).alias("__pos")
    return (
        keyed.filter(F.col("__k").isNotNull())
        .select("file", pos)
        .select(
            "file",
            (F.col("__pos") / 64).cast("int").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias(
                "__bit"
            ),
        )
        .groupBy("file", "word_idx")
        .agg(F.bit_or("__bit").alias("word"))
    )


def read_bloom_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    value,
) -> DataFrame:
    """Point-lookup read that consults the ``_bloom`` sidecar built by
    :func:`build_bloom_file_index`: only files whose Bloom filter
    might contain ``value`` are handed to Spark, then the equality
    predicate is re-applied as the residual filter — exactly
    ``read.parquet(path).filter(col == value)`` semantics (no false
    negatives: every file that holds the value has all its probe bits
    set), with the file listing shrunk by the filters' selectivity.

    Driver work is index-bounded: the probe positions come from one
    1-row job (the same JVM xxhash64 the build used — no Python
    reimplementation to drift), and only index rows at those
    ``num_hashes`` word slots are collected (≤ files × num_hashes
    rows), plus one distinct-file pass over the index (≤ files rows).

    Staleness is handled CONSERVATIVELY, never incorrectly: a current
    table file with no index entries (appended after the build) is
    always read — the index can only prune files it covers; and on a
    txlog-versioned table the file set is the current SNAPSHOT's, so
    dead versions' index rows can never resurrect their files.
    """

    def _name(f: str) -> str:
        return f.replace("file:", "").rsplit("/", 1)[-1]

    idx_path = f"{path.rstrip('/')}/_bloom/{col}"
    meta = spark.read.parquet(f"{idx_path}/meta").collect()[0]
    num_bits, num_hashes = meta["num_bits"], meta["num_hashes"]
    base, snapshot = _table_base(spark, path)
    key_type = base.schema[col].dataType
    probe = spark.range(1).select(
        *[
            F.pmod(
                F.xxhash64(F.lit(value).cast(key_type), F.lit(i)), F.lit(num_bits)
            ).alias(f"p{i}")
            for i in range(num_hashes)
        ]
    ).collect()[0]
    positions = [probe[f"p{i}"] for i in range(num_hashes)]
    slots = {(int(p) // 64, 1 << (int(p) % 64)) for p in positions}
    words = spark.read.parquet(f"{idx_path}/words")
    idx = words.filter(F.col("word_idx").isin([w for w, _ in slots])).collect()
    indexed = {
        _name(r["file"]) for r in words.select("file").distinct().collect()
    }
    by_file: dict[str, dict[int, int]] = {}
    for r in idx:
        by_file.setdefault(_name(r["file"]), {})[r["word_idx"]] = r["word"]
    hits = {
        n
        for n, ws in by_file.items()
        if all(ws.get(w, 0) & bit for w, bit in slots)
    }
    current = snapshot if snapshot is not None else sorted(set(base.inputFiles()))
    keep = [f for f in current if _name(f) in hits or _name(f) not in indexed]
    if not keep:
        out = base.filter(F.lit(False))
    else:
        out = spark.read.schema(base.schema).parquet(*keep)
    return out.filter(F.col(col) == value)


def delete_by_keys(
    spark: SparkSession,
    path: str,
    col: str,
    values: list,
) -> dict:
    """Targeted key deletion (the GDPR/right-to-erasure primitive):
    rewrite ONLY the files that can contain the doomed keys, leave
    every other file byte-identical — the engine-side form of what
    Delta does with file-level stats + deletion targeting.

    File targeting, best evidence first:

    1. a ``_bloom`` sidecar for ``col`` (:func:`build_bloom_file_index`)
       → probe every key; a file is a candidate iff SOME key's bits
       are all set (zero false negatives, so skipping non-candidates
       is always safe);
    2. else parquet footer min/max (:func:`parquet_file_stats`) →
       range overlap;
    3. else every file is a candidate (correct, just unpruned).

    On a ``jibaro_spark.txlog`` versioned table the rewrite is a
    TRANSACTIONAL ``replace`` commit (remove actions for the candidate
    files + add actions for their rewrites): time travel to pre-delete
    snapshots keeps working, ``snapshot_files`` sees the new files, and
    no live file is ever ``os.remove``d — vacuum reclaims the replaced
    files once they fall out of retention (VERDICT r8 item 3; the same
    dispatch ``vacuum_if_due``/``generate_manifest`` use).  Candidate
    targeting there uses the ``_bloom`` sidecar when it covers the
    snapshot (coverage verified by file set — deletes cannot tolerate
    a stale index's false negatives), else footer min/max over the
    SNAPSHOT file list.

    On bare parquet, candidates are read, anti-filtered, and rewritten
    via a temp dir + atomic-per-file moves; originals are removed
    afterwards — not transactional across files (the txlog/Delta path
    is the durable one at 100 TB — same trade as ``compact``).  What
    both paths ARE is MINIMAL: at production scale erasing k keys
    rewrites O(k) files, never the table — including ``_bloom``
    sidecar upkeep, which is INCREMENTAL (ADVICE r8 / VERDICT r8 item
    2): rows of rewritten files are anti-filtered out of each sidecar
    and replacement rows are computed by scanning ONLY the new
    ``part-del-*`` files, with ``num_bits``/``num_hashes`` unchanged.

    Returns ``{"files_total", "files_rewritten", "rows_deleted"}``
    (plus ``"version"`` on the txlog path).
    """
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F  # noqa: F811 (module-level alias)

    from jibaro_spark import txlog

    if any(v is None for v in values):
        # ~isin(NULL) is NULL under three-valued logic, so a NULL
        # "target" can never match and the NULL-keeping filter below
        # would silently ignore it — reject loudly instead of letting
        # an erasure request half-succeed
        raise ValueError(
            "delete_by_keys cannot target NULL keys (isin semantics); "
            "rewrite NULL-keyed rows with an explicit isNull filter"
        )
    if not values:
        base = spark.read.parquet(path)
        return {
            "files_total": len(set(base.inputFiles())),
            "files_rewritten": 0,
            "rows_deleted": 0,
        }
    local_root = path.replace("file:", "")
    if txlog.latest_version(local_root) is not None:
        return _delete_by_keys_versioned(spark, local_root, col, values)

    base = spark.read.parquet(path)
    all_files = sorted(set(base.inputFiles()))
    candidates: list[str] = []
    probed = _bloom_candidates(spark, path, col, values, base.schema[col].dataType)
    if probed is not None and not _bloom_covers(spark, path, col, all_files):
        # same coverage rule as the versioned path: a file the index
        # does not cover (appended after the build) could hold a doomed
        # key the probe would never flag — a MISSED deletion, not just
        # lost pruning.  Fall through to footer stats instead.
        probed = None
    if probed is not None:
        candidates = probed
    else:
        # stat exactly the table's data files (never sidecar/log
        # parquet a recursive glob would sweep in — ADVICE r8)
        stats = parquet_file_stats(path, [col], files=all_files)
        lo, hi = min(values), max(values)
        # stats paths may be scheme-less; rejoin by basename (all part
        # files of one directory have unique basenames)
        by_base = {f.rsplit("/", 1)[-1]: f for f in all_files}
        unmapped = False
        for row in stats:
            mn, mx = row.get(f"{col}_min"), row.get(f"{col}_max")
            if mn is None or mx is None or not (mx < lo or mn > hi):
                base_name = row["file"].rsplit("/", 1)[-1]
                if base_name in by_base:
                    candidates.append(by_base[base_name])
                else:
                    unmapped = True
        candidates = sorted(set(candidates))
        # Fall back to a full-table rewrite ONLY when the evidence is
        # incomplete (no footer stats at all, or an admitted stats row
        # we could not map back to a listed file).  When pruning
        # legitimately excluded every file, the correct answer is
        # "nothing to rewrite", not "rewrite everything".
        if not candidates and (not stats or unmapped):
            candidates = list(all_files)

    if not candidates:
        return {"files_total": len(all_files), "files_rewritten": 0, "rows_deleted": 0}

    cand = spark.read.schema(base.schema).parquet(*candidates)
    n_before = cand.count()
    # NULL-keyed rows are never deletion targets: plain
    # ``~isin(values)`` evaluates to NULL for them (three-valued
    # logic) and a bare filter would silently erase them.
    kept = cand.filter((~F.col(col).isin(values)) | F.col(col).isNull())
    n_after = kept.count()
    local = path.replace("file:", "")
    tmp = os.path.join(local, f"_tmp_delete_{uuid.uuid4().hex[:8]}")
    kept.write.mode("overwrite").parquet(tmp)
    for f in candidates:
        os.remove(f.replace("file:", ""))
    new_files: list[str] = []
    for name in os.listdir(tmp):
        if name.endswith(".parquet"):
            dest = os.path.join(local, f"part-del-{uuid.uuid4().hex[:8]}-{name}")
            shutil.move(os.path.join(tmp, name), dest)
            new_files.append(dest)
    shutil.rmtree(tmp, ignore_errors=True)
    # The rewrite changed the file set, so every ``_bloom`` sidecar on
    # this table is now stale: rewritten originals stay indexed and the
    # new part-del-* files have no entries — a later bloom-pruned read
    # or second delete pass would silently skip them (false negatives).
    # Update each sidecar INCREMENTALLY (never a table rescan — the
    # operator's O(k files) contract covers its own index upkeep):
    # anti-filter out the rows of rewritten originals, append rows
    # computed from ONLY the new part-del-* files, keep the filter
    # parameters unchanged so old and new rows stay comparable.
    _update_bloom_sidecars(spark, local, base.schema, candidates, new_files)
    return {
        "files_total": len(all_files),
        "files_rewritten": len(candidates),
        "rows_deleted": int(n_before - n_after),
    }


def _bloom_candidates(
    spark: SparkSession, path: str, col: str, values: list, key_type
) -> "list[str] | None":
    """Candidate files for ``values`` per the ``_bloom/<col>`` sidecar
    probe, or None when no sidecar exists: every key's ``num_hashes``
    probe positions join the index's (file, word_idx, word) rows, and a
    file is a candidate iff some key finds ALL its bits present and
    set — zero false negatives over the files the index covers.  The
    probe is index-bounded: values × num_hashes rows join word-indexed
    slots; the collect is at most the candidate file list."""
    import os

    idx_path = f"{path.rstrip('/')}/_bloom/{col}"
    if not os.path.isdir(f"{idx_path.replace('file:', '')}/words"):
        return None
    meta = spark.read.parquet(f"{idx_path}/meta").collect()[0]
    num_bits, num_hashes = meta["num_bits"], meta["num_hashes"]
    vals_df = spark.createDataFrame(
        [(v,) for v in values], f"__k {key_type.simpleString()}"
    )
    pos = vals_df.select(
        F.col("__k"),
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("__k"), F.lit(i)), F.lit(num_bits))
                    for i in range(num_hashes)
                ]
            )
        ).alias("__pos"),
    ).select(
        "__k",
        (F.col("__pos") / 64).cast("int").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias(
            "__bit"
        ),
    )
    words = spark.read.parquet(f"{idx_path}/words")
    hits = (
        pos.join(words, "word_idx")
        .withColumn("__set", F.col("word").bitwiseAND(F.col("__bit")) != 0)
        .groupBy("file", "__k")
        .agg(
            F.sum(F.col("__set").cast("int")).alias("__nset"),
            F.count(F.lit(1)).alias("__nslot"),
        )
        # all num_hashes probe bits present and set for this key
        .filter(
            (F.col("__nslot") == num_hashes) & (F.col("__nset") == num_hashes)
        )
        .select("file")
        .distinct()
        .collect()
    )
    return sorted(r["file"] for r in hits)


def _bloom_covers(
    spark: SparkSession, path: str, col: str, files: "list[str]"
) -> bool:
    """True iff the ``_bloom/<col>`` sidecar has index rows for EVERY
    file in ``files`` (matched on basenames — part files of one table
    are uuid-unique).  Deletion targeting must check this: the probe
    has zero false negatives only over files the index covers, and a
    file written after the build could hold a doomed key the probe
    would never flag.  One distinct-file pass over the index
    (index-bounded, ≤ #files rows)."""
    idx_names = {
        r["file"].replace("file:", "").rsplit("/", 1)[-1]
        for r in spark.read.parquet(f"{path.rstrip('/')}/_bloom/{col}/words")
        .select("file")
        .distinct()
        .collect()
    }
    return {f.replace("file:", "").rsplit("/", 1)[-1] for f in files} <= idx_names


def _bloom_sidecar_metas(
    spark: SparkSession, local: str
) -> "dict[str, tuple[int, int]]":
    """``{col: (num_bits, num_hashes)}`` for every intact ``_bloom``
    sidecar under ``local`` — captured before a table rewrite so the
    indexes can be rebuilt with their original parameters."""
    import os

    out: dict[str, tuple[int, int]] = {}
    bloom_root = os.path.join(local, "_bloom")
    if not os.path.isdir(bloom_root):
        return out
    for bloom_col in sorted(os.listdir(bloom_root)):
        meta_dir = os.path.join(bloom_root, bloom_col, "meta")
        if not os.path.isdir(meta_dir):
            continue
        m = spark.read.parquet(meta_dir).collect()[0]
        out[bloom_col] = (int(m["num_bits"]), int(m["num_hashes"]))
    return out


def _update_bloom_sidecars(
    spark: SparkSession,
    local: str,
    schema,
    removed_files: list[str],
    new_files: list[str],
) -> None:
    """Incrementally reconcile every ``_bloom/<col>`` sidecar under
    ``local`` after a file-level rewrite: drop words rows whose file is
    one of ``removed_files``, append words built by scanning ONLY
    ``new_files`` (same ``num_bits``/``num_hashes`` as the original
    build, so the filters stay one family).  Cost is O(index size +
    new-file bytes), independent of table size — the property that
    keeps :func:`delete_by_keys` O(k files) end-to-end (ADVICE r8).

    File identity is matched on basenames: part files of one table
    directory are unique by construction (uuid-named), and it makes
    the match robust to ``file:`` scheme differences between
    ``input_file_name()`` (index rows) and ``inputFiles()``
    (candidates)."""
    import os

    bloom_root = os.path.join(local, "_bloom")
    if not os.path.isdir(bloom_root):
        return
    removed_names = [
        f.replace("file:", "").rsplit("/", 1)[-1] for f in removed_files
    ]
    for bloom_col in sorted(os.listdir(bloom_root)):
        idx_dir = os.path.join(bloom_root, bloom_col)
        meta_dir = os.path.join(idx_dir, "meta")
        words_dir = os.path.join(idx_dir, "words")
        if not (os.path.isdir(meta_dir) and os.path.isdir(words_dir)):
            continue
        m = spark.read.parquet(meta_dir).collect()[0]
        survivors = spark.read.parquet(words_dir).filter(
            ~F.element_at(F.split(F.col("file"), "/"), -1).isin(removed_names)
        )
        if new_files:
            fresh = _bloom_words(
                spark.read.schema(schema).parquet(*new_files),
                bloom_col,
                int(m["num_bits"]),
                int(m["num_hashes"]),
            )
            merged = survivors.unionByName(fresh)
        else:
            merged = survivors
        # overwriting the directory we are reading from — materialize
        # the merged rows first (the sidecar is index-sized, tiny next
        # to the table)
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(words_dir)


def _delete_by_keys_versioned(
    spark: SparkSession, table: str, col: str, values: list
) -> dict:
    """:func:`delete_by_keys` on a ``jibaro_spark.txlog`` versioned
    table: candidate targeting over the current SNAPSHOT's files (the
    ``_bloom`` sidecar when it COVERS the snapshot — verified by file
    set, since log commits don't maintain sidecars — else footer
    min/max), then one transactional ``replace`` commit (remove
    actions for the candidates, add actions for their anti-filtered
    rewrites) — the Delta DELETE commit shape.  Replaced files stay on
    disk for time travel until
    :func:`jibaro_spark.txlog.vacuum_versioned` reclaims them, and
    readers pinned to older versions are undisturbed.  Sidecars are
    reconciled incrementally afterwards (same contract as the bare
    path): the commit's snapshot diff IS the (removed, added) file
    sets."""
    from jibaro_spark import txlog

    head = txlog.latest_version(table)
    files = txlog.snapshot_files(table, head)
    base = txlog.read_versioned(spark, table, head)
    by_base = {f.rsplit("/", 1)[-1]: f for f in files}
    candidates: "list[str] | None" = None
    probed = _bloom_candidates(spark, table, col, values, base.schema[col].dataType)
    if probed is not None:
        # the index is trustworthy for DELETION (false negatives would
        # leave doomed keys alive) only if every snapshot file is
        # indexed: commits made after the build are not in the sidecar
        if _bloom_covers(spark, table, col, files):
            candidates = sorted(
                by_base[n]
                for n in {
                    p.replace("file:", "").rsplit("/", 1)[-1] for p in probed
                }
                if n in by_base  # index may still carry dead files' rows
            )
    if candidates is None:
        stats = parquet_file_stats(table, [col], files=files)
        lo, hi = min(values), max(values)
        candidates = []
        for row in stats:
            mn, mx = row.get(f"{col}_min"), row.get(f"{col}_max")
            if mn is None or mx is None or not (mx < lo or mn > hi):
                candidates.append(row["file"])
        candidates = sorted(set(candidates))
    if not candidates:
        return {
            "files_total": len(files),
            "files_rewritten": 0,
            "rows_deleted": 0,
            "version": None,
        }
    cand = spark.read.schema(base.schema).parquet(*candidates)
    n_before = cand.count()
    kept = cand.filter((~F.col(col).isin(values)) | F.col(col).isNull())
    n_after = kept.count()
    version = txlog.write_versioned(
        kept,
        table,
        mode="replace",
        replace_paths=candidates,
        operation=f"DELETE ({col})",
    )
    new_files = sorted(set(txlog.snapshot_files(table, version)) - set(files))
    _update_bloom_sidecars(spark, table, base.schema, candidates, new_files)
    return {
        "files_total": len(files),
        "files_rewritten": len(candidates),
        "rows_deleted": int(n_before - n_after),
        "version": version,
    }
