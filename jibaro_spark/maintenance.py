"""Table maintenance (SURVEY §7.2 M5): small-file compaction, history
metrics, symlink manifest, vacuum policy, and the file-level rewrites
(OPTIMIZE ZORDER, DELETE by keys) with their per-file Bloom index.

Every operator resolves its table once, with :func:`_snapshot`, into
one of three formats: a ``jibaro_spark.txlog`` versioned table (live
files from the log), a Delta table when delta-spark is on the classpath
(reference ``jibaro/datalake/delta_handler.py:9-35``,
``cdc.py:224-269``), or a bare parquet directory (the files Spark's own
listing reads).  Every rewrite commits through :func:`_replace`: a
txlog commit, a Delta overwrite, or on bare parquet a file swap that is
not atomic across files.  On bare parquet the history row and the
manifest come from the file listing, and vacuum does nothing (there
are no old versions to reclaim); at 100 TB you run a versioned format.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid
from dataclasses import dataclass
from functools import cached_property
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from jibaro_spark.catalog import Catalog, TableRef
from jibaro_spark.operators.bloom import _positions, _word_bit
from jibaro_spark.operators.util import local_frame
from jibaro_spark.session import has_delta


@dataclass(frozen=True)
class TableStats:
    num_files: int
    size_bytes: int


def table_stats(spark: SparkSession, path: str) -> TableStats:
    """File count + byte size of the table's live files (driver-side
    metadata only, from :func:`_snapshot`: the txlog or Delta snapshot,
    or the bare listing; reference ``delta_handler.py:15-24`` reads the
    same numbers from the Delta snapshot).  Sidecars, logs and files
    removed but not yet vacuumed never count."""
    snap = _snapshot(spark, path)
    return TableStats(len(snap.files), snap.size_bytes)


def target_file_count(size_bytes: int, target_file_bytes: int) -> int:
    """How many files a rewrite of ``size_bytes`` of data writes:
    ``ceil(size / target)``, at least one — the sizing rule shared by
    compaction, OPTIMIZE ZORDER and the CDC merge write."""
    return max(1, math.ceil(size_bytes / target_file_bytes))


@dataclass
class _Snapshot:
    """A table resolved by :func:`_snapshot`.  ``files`` (sorted) and
    ``size_bytes`` are the live data files, read from the metadata on
    first use; ``df`` is the DataFrame of the live rows, built on first
    use.  ``version`` is the txlog head the snapshot is pinned to."""

    spark: SparkSession
    path: str
    format: str  # "txlog", "delta" or "parquet"
    exists: bool
    version: "int | None" = None

    @property
    def local(self) -> str:
        return self.path.replace("file:", "")

    @cached_property
    def _sizes(self) -> "dict[str, int]":
        from jibaro_spark import txlog

        if self.format == "txlog" and self.version is not None:
            live, _, _ = txlog._replay_state(self.local, self.version)
            return {os.path.join(self.local, p): int(a["size"]) for p, a in live.items()}
        if not self.exists:
            return {}
        fs, root = _fs(self.spark, self.path)
        if self.format == "delta":
            files = self.df.inputFiles()
            jpath = self.spark.sparkContext._jvm.org.apache.hadoop.fs.Path
            return {f: fs.getFileStatus(jpath(f)).getLen() for f in files}
        return _listing(fs, root)

    @cached_property
    def files(self) -> "list[str]":
        return sorted(self._sizes)

    @property
    def size_bytes(self) -> int:
        return sum(self._sizes.values())

    @cached_property
    def df(self) -> DataFrame:
        from jibaro_spark import txlog

        if self.format == "txlog":
            return txlog.read_versioned(self.spark, self.local, self.version)
        if self.format == "delta":
            return self.spark.read.format("delta").load(self.path)
        return self.spark.read.parquet(self.path)


def _snapshot(spark: SparkSession, path: str, use_txlog: bool = False) -> _Snapshot:
    """Resolve the table at ``path``: the one place the table format is
    decided.

    * a ``_jibaro_log`` (``jibaro_spark.txlog``) → txlog, pinned to the
      head version; its files and sizes come from the log;
    * a ``_delta_log`` while delta-spark is loaded → Delta;
    * otherwise bare parquet, whose files are the ones Spark itself
      reads (:func:`_listing`).

    A path that does not exist yet resolves to an empty table in the
    format a first write creates: Delta when delta-spark is loaded,
    else txlog when ``use_txlog``, else bare parquet.  Nothing is
    listed and no DataFrame is built until a caller asks for
    ``files`` or ``df``."""
    from jibaro_spark import txlog

    head = txlog.latest_version(path.replace("file:", ""))
    if head is not None:
        return _Snapshot(spark, path, "txlog", True, head)
    fs, root = _fs(spark, path)
    exists = fs.exists(root)
    delta_log = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(root, "_delta_log")
    if (not exists or fs.exists(delta_log)) and has_delta(spark):
        return _Snapshot(spark, path, "delta", exists)
    return _Snapshot(spark, path, "txlog" if use_txlog and not exists else "parquet", exists)


def _fs(spark: SparkSession, path: str):
    """(Hadoop ``FileSystem``, ``Path``) for ``path`` — any scheme the
    session's Hadoop configuration supports (reference
    ``utils.py:11-34`` pattern)."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _listing(fs, root) -> "dict[str, int]":
    """``{file: bytes}`` of the data files under ``root`` by Spark's own
    listing rule (``HadoopFSUtils.shouldFilterOutPathName``): at every
    depth a name starting with ``.``, or with ``_`` and holding no
    ``=``, is hidden.  So ``_bloom`` sidecars, logs, manifests and temp
    dirs are skipped, while Hive partitions such as the staged layer's
    ``_batch_id=3/_schema_pair=1-2`` are read, as Spark reads them."""
    out: dict[str, int] = {}
    dirs = [root]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            p = st.getPath()
            name = p.getName()
            if name.startswith(".") or (name.startswith("_") and "=" not in name):
                continue
            if st.isDirectory():
                dirs.append(p)
            else:
                out[p.toString()] = st.getLen()
    return out


def _replace(
    snap: _Snapshot,
    df: DataFrame,
    operation: str,
    old_files: "list[str] | None" = None,
) -> "int | None":
    """Commit ``df`` in place of ``old_files`` (None: every live file)
    of the table ``snap`` resolved, then update each ``_bloom`` sidecar
    incrementally (:func:`_update_bloom_sidecars`).  Returns the txlog
    version, or None on the other formats.

    * txlog: one commit, ``overwrite`` for a whole-table rewrite and
      ``replace`` of exactly ``old_files`` otherwise (the Delta DELETE
      commit shape).  Replaced files stay on disk for time travel until
      :func:`jibaro_spark.txlog.vacuum_versioned` reclaims them.
    * Delta: a whole-table overwrite.  A partial rewrite raises: it
      needs Delta's own DELETE or MERGE.
    * bare parquet: ``df`` is written under a ``_``-prefixed temp dir
      (hidden from readers), the old files are deleted, and the new
      ones are moved in, all through the Hadoop FileSystem API — not
      atomic across files.  The frame may read the files it replaces.

    An ``OPTIMIZE`` operation changes only the layout: Delta writes it
    with ``dataChange=false`` so downstream streams skip it, and txlog
    checkpoints the new snapshot at once, so readers resolve it from
    one file instead of replaying the old adds and their removes."""
    from jibaro_spark import txlog

    whole = old_files is None
    old = list(snap.files) if whole else list(old_files)
    layout_only = operation.startswith("OPTIMIZE")
    version = None
    if snap.format == "txlog":
        version = txlog.write_versioned(
            df,
            snap.local,
            mode="overwrite" if whole else "replace",
            replace_paths=None if whole else old,
            operation=operation,
        )
        if layout_only:
            try:
                txlog.write_checkpoint(snap.local, version)
            except OSError:
                pass
    elif snap.format == "delta":
        if not whole:
            raise ValueError(
                f"{operation}: a partial rewrite of the Delta table {snap.path} "
                "needs Delta's own DELETE or MERGE"
            )
        writer = df.write.format("delta").mode("overwrite")
        if layout_only:
            writer = writer.option("dataChange", "false")
        writer.save(snap.path)
    else:
        new_files = _swap_files(snap, old, df)
    if os.path.isdir(os.path.join(snap.local, "_bloom")):
        if snap.format != "parquet":
            after = _snapshot(snap.spark, snap.path).files
            new_files = sorted(set(after) - set(snap.files))
        _update_bloom_sidecars(snap.spark, snap.local, df.schema, old, new_files)
    return version


def _swap_files(snap: _Snapshot, old_files: "list[str]", df: DataFrame) -> "list[str]":
    """The bare-parquet commit of :func:`_replace`; returns the new
    files.  Spark's part-file names carry the write job's UUID, so the
    moved files never collide with the table's existing ones."""
    fs, root = _fs(snap.spark, snap.path)
    jpath = snap.spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    tmp = jpath(root, f"_tmp_rewrite_{uuid.uuid4().hex[:12]}")
    # only the part files are moved; no _SUCCESS marker
    df.write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false").parquet(
        tmp.toString()
    )
    for f in old_files:
        fs.delete(jpath(f), False)
    new_files = []
    for st in fs.listStatus(tmp):
        src = st.getPath()
        if src.getName().endswith(".parquet"):
            dest = jpath(root, src.getName())
            fs.rename(src, dest)
            new_files.append(dest.toString())
    fs.delete(tmp, True)
    return new_files


def compact(
    spark: SparkSession,
    catalog: Catalog,
    ref: TableRef,
    force: bool = False,
) -> bool:
    """Small-file compaction (reference ``delta_handler.py:9-35``):
    when the snapshot holds more than ``compact_min_files`` files,
    rewrite it into ``ceil(sizeInBytes / compact_target_file_bytes)``
    files as an ``OPTIMIZE`` (:func:`_replace`: a txlog overwrite commit
    that keeps the old version time-travelable, a Delta
    ``dataChange=false`` overwrite, or a bare-parquet file swap).
    Returns True when a rewrite happened.

    The reference targets 1 MiB files — pathological at scale; our
    default target is 128 MiB (Settings.compact_target_file_bytes).
    It catches tables built by many appends (e.g. the
    ``idempotent_batch_writer`` sink), not steady-state CDC merges:
    :func:`jibaro_spark.operators.cdc.cdc_merge_table` already writes
    its result at this target size, so after a merge the file count is
    normally under the threshold and this returns False.  The file
    count that gates the rewrite is the snapshot's, not the
    directory's (which also holds not-yet-vacuumed history).

    ``_bloom`` sidecars (:func:`build_bloom_file_index`) hold one
    directory per file; :func:`_replace` deletes the rewritten files'
    and indexes the new ones with the original parameters.
    """
    s = catalog.settings
    snap = _snapshot(spark, catalog.path(ref))
    if not snap.files or (not force and len(snap.files) <= s.compact_min_files):
        return False
    _optimize(snap, s.compact_target_file_bytes)
    return True


def _optimize(
    snap: _Snapshot,
    target_file_bytes: int,
    zorder_cols: "list[str] | None" = None,
    bits: int = 16,
) -> "tuple[int, int | None]":
    """OPTIMIZE (ZORDER BY ``zorder_cols`` when given) of the whole
    snapshot into ``ceil(size / target_file_bytes)`` files — the one
    body behind :func:`compact`, :func:`optimize_zorder` and
    :func:`jibaro_spark.txlog.compact_versioned`.  Returns (files
    written, txlog version or None)."""
    n = target_file_count(snap.size_bytes, target_file_bytes)
    if zorder_cols:
        from jibaro_spark.operators.relational import layout_zorder

        df = layout_zorder(snap.df, *zorder_cols, num_partitions=n, bits=bits)
        op = f"OPTIMIZE ZORDER ({','.join(zorder_cols)})"
    else:
        df, op = snap.df.repartition(n), "OPTIMIZE"
    return n, _replace(snap, df, op)


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
    ``numFiles``/``sizeBytes`` of that commit's snapshot (from the
    log's add actions — files removed but not yet vacuumed do not
    count, as in the reference's Delta snapshot), written as one
    parquet file with pyarrow (:func:`_write_history_row`).

    The bare-parquet path appends one metrics row over the directory's
    file listing as one parquet file: the row is built on the JVM
    (:func:`_history_row`), so the append runs no Python job and
    writes no empty part files.
    """
    from jibaro_spark import txlog

    snap = _snapshot(spark, catalog.path(ref))
    hist_path = catalog.history_path(ref)
    if snap.format == "txlog":
        # limit=1 reads ONE log file, not the whole history per merge
        c = txlog.history(snap.local, limit=1)[0]
        _write_history_row(
            hist_path,
            {
                "version": int(c["version"]),
                "operation": str(c["operation"]),
                "numAdded": int(c.get("num_added", 0)),
                "numFiles": len(snap.files),
                "sizeBytes": snap.size_bytes,
                **({k: str(v) for k, v in (extra or {}).items()}),
            },
        )
        return
    if snap.format == "delta":
        from delta.tables import DeltaTable

        dt = DeltaTable.forPath(spark, snap.path)
        hist = (
            dt.history(1)
            .withColumn("numFiles", F.lit(len(snap.files)))
            .withColumn("sizeBytes", F.lit(snap.size_bytes))
        )
        writer = hist.write.format("delta").mode("append").option("mergeSchema", "true")
        writer.save(hist_path)
        return
    row = {
        "operation": operation,
        "numFiles": len(snap.files),
        "sizeBytes": snap.size_bytes,
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
    get the same artifact from the log's current snapshot, and bare
    parquet directories from the files Spark reads (:func:`_listing`,
    Hive partitions included).  Returns False when a bare path does
    not exist or holds no data files: an empty manifest would read as
    a zero-row table with no error signal (ADVICE r5)."""
    snap = _snapshot(spark, catalog.path(ref))
    if snap.format == "delta":
        from delta.tables import DeltaTable

        DeltaTable.forPath(spark, snap.path).generate("symlink_format_manifest")
        return True
    if snap.format == "parquet" and not snap.files:
        return False
    manifest_dir = os.path.join(snap.local, "_symlink_format_manifest")
    os.makedirs(manifest_dir, exist_ok=True)
    tmp = os.path.join(manifest_dir, ".manifest.tmp")
    with open(tmp, "w") as f:
        for p in snap.files:
            f.write("file://" + os.path.abspath(p.replace("file:", "")) + "\n")
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

    s = catalog.settings
    snap = _snapshot(spark, catalog.path(ref))
    if snap.format == "txlog":
        head = snap.version
        if head == 0 or head % s.vacuum_every_n_versions != 0:
            return False
        txlog.vacuum_versioned(
            snap.local,
            keep_versions=s.vacuum_every_n_versions,
            # the reference's retention window (768 h) doubles as the
            # concurrent-writer guard: only files older than it are
            # reclaimed (txlog.vacuum_versioned docstring)
            min_file_age_s=s.vacuum_retention_hours * 3600.0,
        )
        return True
    if snap.format != "delta" or not snap.exists:
        return False
    from delta.tables import DeltaTable

    dt = DeltaTable.forPath(spark, snap.path)
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


def parquet_file_stats(
    path: str, columns: list[str], files: "list[str] | None" = None
) -> list[dict]:
    """Per-FILE min/max statistics for ``columns`` of a parquet
    table, read from the parquet footers (no data scan) — the
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

    The files are the table's live files (:func:`_snapshot`, through
    the active session: a txlog table's snapshot, or the files Spark's
    listing reads — never ``_bloom`` sidecars, logs or checkpoints,
    whose parquet typically lacks the requested columns, ADVICE r8);
    pass ``files`` to stat an explicit list instead.  Defensively, a
    file whose schema lacks a requested column reports ``None`` stats
    for it (never prunable) instead of raising.
    """
    import pyarrow.parquet as _pq

    if files is None:
        files = _snapshot(SparkSession.active(), path).files
    out: list[dict] = []
    for f in sorted(f.replace("file:", "") for f in files):
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

    Returns the number of output files.  The rewrite is the same
    ``OPTIMIZE`` commit as :func:`compact`'s (:func:`_replace`): an
    ``OPTIMIZE ZORDER`` version on a txlog table, a
    ``dataChange=false`` overwrite on Delta, a file swap on bare
    parquet; ``_bloom`` sidecars are brought up to date.
    """
    return _optimize(_snapshot(spark, path), target_file_bytes, list(key_cols), bits)[0]


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
    snap = _snapshot(spark, path)
    stats = parquet_file_stats(path, list(ranges), files=snap.files)
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
    out = _read_files(snap, keep)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            out = out.filter(F.col(c) >= lo)
        if hi is not None:
            out = out.filter(F.col(c) <= hi)
    return out


def _read_files(snap: _Snapshot, files: "list[str]") -> DataFrame:
    """The rows of ``files`` (a subset of the snapshot's) with the
    table's schema; an empty frame when ``files`` is empty."""
    if not files:
        return snap.df.filter(F.lit(False))
    return snap.spark.read.schema(snap.df.schema).parquet(*files)


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

    One scan of the snapshot's files (:func:`_bloom_words`) builds
    every file's filter; on a txlog table a directory read would also
    index dead versions' files.  The sidecar at ``<path>/_bloom/<col>`` (the
    underscore hides it from parquet readers) is ``meta.json``
    (``num_bits``, ``num_hashes``) plus ``words/file=<data-file
    basename>/``, one directory per data file, so a rewrite's upkeep
    (:func:`_update_bloom_sidecars`) touches only the files it
    replaces and writes.  ``meta.json`` is removed before the words are
    written and written last: a sidecar without it is not an index.

    ``num_bits=None`` (the default) sizes the filter to the data: a
    fixed width saturates on dense files (20k keys in 2¹⁶ bits is a
    ~25% false-positive rate per key per file, so a multi-key probe
    admits nearly every file).  The largest file's row count, from the
    parquet footers, gets ~10 bits per row (m = −n·ln p/ln²2 at
    p≈1%), clamped to [2¹³, 2²⁴]: ≤2 MiB of filter per file.  An
    explicit ``num_bits`` is honored unchanged.

    Returns the sidecar path.  Every rewrite through :func:`_replace`
    (compaction, OPTIMIZE ZORDER, DELETE, the CDC merge) updates the
    index; a plain append does not, and readers then treat the new
    files as unindexed.
    """
    snap = _snapshot(spark, path)
    if num_bits is None:
        rows = parquet_file_stats(path, [], files=snap.files)
        max_rows = max((r["num_rows"] for r in rows), default=1)
        num_bits = 1 << max(13, min(24, math.ceil(math.log2(max(10 * max_rows, 2)))))
    idx_dir = os.path.join(snap.local, "_bloom", col)
    meta = os.path.join(idx_dir, "meta.json")
    if os.path.exists(meta):
        os.remove(meta)
    words = _bloom_words(snap.df, col, num_bits, num_hashes)
    words.write.mode("overwrite").partitionBy("file").parquet(os.path.join(idx_dir, "words"))
    with open(meta + ".tmp", "w") as f:
        json.dump({"num_bits": int(num_bits), "num_hashes": int(num_hashes)}, f)
    os.replace(meta + ".tmp", meta)
    return f"{path.rstrip('/')}/_bloom/{col}"


def _bloom_words(df: DataFrame, col: str, num_bits: int, num_hashes: int) -> DataFrame:
    """The sparse (file, word_idx, word) Bloom rows of ``df``'s files,
    ``file`` being the data file's basename: each value explodes to its
    ``num_hashes`` bit positions (``operators/bloom.py``'s
    ``_positions``, so filters are portable), a ``bit_or`` per (file,
    word) folds map-side, and zero words are omitted.  The rows are
    then clustered by file, so each ``words/file=`` directory is
    written whole by one task."""
    pos = F.col("__pos")
    word_idx, bit = _word_bit(pos)
    return (
        df.select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
            F.col(col).alias("__k"),
        )
        .filter(F.col("__k").isNotNull())
        .select(
            "file",
            F.explode(
                F.array(*_positions(F.col("__k"), num_bits, num_hashes))
            ).alias("__pos"),
        )
        .select("file", word_idx.alias("word_idx"), bit.alias("__bit"))
        .groupBy("file", "word_idx")
        .agg(F.bit_or("__bit").alias("word"))
        .repartition("file")
    )


def read_bloom_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    value,
) -> DataFrame:
    """Point-lookup read that consults the ``_bloom`` sidecar built by
    :func:`build_bloom_file_index`: only files whose Bloom filter
    might contain ``value`` are handed to Spark
    (:func:`_bloom_candidates`), then the equality predicate is
    re-applied as the residual filter — exactly
    ``read.parquet(path).filter(col == value)`` semantics (no false
    negatives: every file that holds the value has all its probe bits
    set), with the file listing shrunk by the filters' selectivity.

    Staleness is handled CONSERVATIVELY, never incorrectly: a current
    table file with no index entries (appended after the build) is
    always read — the index can only prune files it covers; and on a
    txlog-versioned table the file set is the current SNAPSHOT's, so
    dead versions' index rows can never resurrect their files.  With
    no sidecar at all every file is read.
    """
    snap = _snapshot(spark, path)
    keep = _bloom_candidates(snap, col, [value])
    return _read_files(snap, snap.files if keep is None else keep).filter(
        F.col(col) == value
    )


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

    File targeting over the snapshot's live files, best evidence
    first:

    1. a ``_bloom`` sidecar for ``col`` (:func:`build_bloom_file_index`)
       → probe every key (:func:`_bloom_candidates`): a file is a
       candidate iff SOME key's bits are all set, or the index has no
       directory for it (written after the build) — zero false negatives,
       so skipping non-candidates is always safe;
    2. else parquet footer min/max (:func:`parquet_file_stats`) →
       range overlap (files without stats are candidates).

    The candidates are read, anti-filtered, and committed in their
    place by :func:`_replace`: on a ``jibaro_spark.txlog`` table a
    transactional ``replace`` version (time travel to pre-delete
    snapshots keeps working, and vacuum reclaims the replaced files
    once they fall out of retention; VERDICT r8 item 3); on bare
    parquet a file swap that is not transactional across files (same
    trade as ``compact``); on Delta an error, since that is Delta's
    own DELETE.  Either way erasing k keys rewrites O(k) files, never
    the table — including ``_bloom`` sidecar upkeep, which is
    INCREMENTAL (:func:`_update_bloom_sidecars`): the rewritten files'
    directories are deleted and ONLY the new files are scanned, with
    ``num_bits``/``num_hashes`` unchanged.

    Returns ``{"files_total", "files_rewritten", "rows_deleted"}``
    (plus ``"version"`` on a txlog table: the DELETE commit, or None
    when nothing was rewritten).
    """
    if any(v is None for v in values):
        # ~isin(NULL) is NULL under three-valued logic, so a NULL
        # "target" can never match and the NULL-keeping filter below
        # would silently ignore it — reject loudly instead of letting
        # an erasure request half-succeed
        raise ValueError(
            "delete_by_keys cannot target NULL keys (isin semantics); "
            "rewrite NULL-keyed rows with an explicit isNull filter"
        )
    snap = _snapshot(spark, path)
    candidates: "list[str] | None" = []
    if values:
        candidates = _bloom_candidates(snap, col, values)
    if candidates is None:
        lo, hi = min(values), max(values)
        by_name = {f.rsplit("/", 1)[-1]: f for f in snap.files}
        candidates = [
            by_name[row["file"].rsplit("/", 1)[-1]]
            for row in parquet_file_stats(path, [col], files=snap.files)
            if row[f"{col}_min"] is None
            or row[f"{col}_max"] is None
            or not (row[f"{col}_max"] < lo or row[f"{col}_min"] > hi)
        ]
    out = {"files_total": len(snap.files), "files_rewritten": len(candidates), "rows_deleted": 0}
    version = None
    if candidates:
        # the rewrite job counts the doomed rows as it reads them
        # (``Observation``), so the candidates are scanned once
        obs = Observation()
        doomed = F.col(col).isin(values)
        cand = _read_files(snap, candidates).observe(
            obs, F.count(F.when(doomed, 1)).alias("rows_deleted")
        )
        # NULL-keyed rows are never deletion targets: plain
        # ``~isin(values)`` evaluates to NULL for them (three-valued
        # logic) and a bare filter would silently erase them.
        kept = cand.filter((~doomed) | F.col(col).isNull())
        version = _replace(snap, kept, f"DELETE ({col})", candidates)
        out["rows_deleted"] = int(obs.get["rows_deleted"])
    if snap.format == "txlog":
        out["version"] = version
    return out


def _bloom_candidates(
    snap: _Snapshot, col: str, values: list
) -> "list[str] | None":
    """The snapshot's files that may hold one of ``values`` per the
    ``_bloom/<col>`` index, or None when there is no index.  A file
    is a candidate iff some key finds all its probe bits set (zero
    false negatives over the files the index covers) or the index has
    no directory for it (written after the build, so the index cannot
    rule it out).  The probe joins values × num_hashes rows to the
    index rows at their word slots, and only the probe runs Spark
    jobs: the meta and the covered files come from the sidecar's
    ``meta.json`` and directory names.  Files match on basenames: part
    files of one table are uuid-unique."""
    index = _bloom_index(os.path.join(snap.local, "_bloom", col))
    if index is None:
        return None
    meta, covered, words_dir = index
    spark = snap.spark
    num_bits, num_hashes = meta["num_bits"], meta["num_hashes"]
    key_type = snap.df.schema[col].dataType
    word_idx, bit = _word_bit(F.col("__pos"))
    pos = (
        local_frame(spark, [(v,) for v in values], f"__k {key_type.simpleString()}")
        .select(
            "__k",
            F.explode(
                F.array(*_positions(F.col("__k"), num_bits, num_hashes))
            ).alias("__pos"),
        )
        .select("__k", word_idx.alias("word_idx"), bit.alias("__bit"))
    )
    words = spark.read.schema("word_idx int, word bigint, file string").parquet(words_dir)
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
        .collect()
    )
    hit = {r["file"] for r in hits}
    return [
        f
        for f in snap.files
        if f.rsplit("/", 1)[-1] in hit or f.rsplit("/", 1)[-1] not in covered
    ]


def _bloom_index(idx_dir: str) -> "tuple[dict, dict[str, str], str] | None":
    """(meta, covered, words dir) of the index at ``idx_dir``:
    ``covered`` maps each indexed data file's basename to its
    ``words/file=`` directory.  None without a ``meta.json``: no index,
    an unfinished build, or a sidecar of an older layout."""
    try:
        with open(os.path.join(idx_dir, "meta.json")) as f:
            meta = json.load(f)
    except FileNotFoundError:
        return None
    words = os.path.join(idx_dir, "words")
    names = os.listdir(words) if os.path.isdir(words) else []
    covered = {unquote(n[5:]): os.path.join(words, n) for n in names if n.startswith("file=")}
    return meta, covered, words


def _update_bloom_sidecars(
    spark: SparkSession,
    local: str,
    schema,
    removed_files: list[str],
    new_files: list[str],
) -> None:
    """Bring each ``_bloom/<col>`` index of the table at ``local`` up
    to date after a rewrite: delete the ``words/file=`` directories of
    ``removed_files``, then append the words of ``new_files`` (scanned
    alone, with the index's ``num_bits``/``num_hashes``) in one write.
    No index row is read, so upkeep is O(removed files + new-file
    bytes) whatever the table's size.  Each new file's directory is
    written by one task, and the committer moves it into ``words``
    whole.  A crash part-way leaves directories of files no snapshot
    lists (never candidates) or new files without one (always
    candidates)."""
    removed = {f.rsplit("/", 1)[-1] for f in removed_files}
    for col in sorted(os.listdir(os.path.join(local, "_bloom"))):
        index = _bloom_index(os.path.join(local, "_bloom", col))
        if index is None:
            continue
        meta, covered, words_dir = index
        for name in removed & covered.keys():
            shutil.rmtree(covered[name])
        if new_files:
            new = spark.read.schema(schema).parquet(*new_files)
            words = _bloom_words(new, col, meta["num_bits"], meta["num_hashes"])
            words.write.mode("append").partitionBy("file").parquet(words_dir)
