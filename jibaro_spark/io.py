"""Batch + streaming I/O by table coordinates.

Re-creates the reference's reader/writer surface
(``jibaro/spark/readwriter.py:14-117``, ``jibaro/spark/streaming.py:9-65``)
as free functions over a :class:`~jibaro_spark.catalog.Catalog` instead
of subclassed Spark readers.  Path-mounted formats are
``parquet, json, orc, csv, text, delta`` (reference
``readwriter.py:65-81``); any other format (``kafka``, ``jdbc``, ...)
passes its options through untouched.

The table format defaults to Delta when the delta-spark jars are
present and parquet otherwise, so the engine runs in a bare pyspark
environment; every call site accepts an explicit ``fmt=`` override.
"""

from __future__ import annotations

import json
import uuid
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from jibaro_spark.catalog import Catalog, TableRef
from jibaro_spark.session import has_delta

#: Formats addressed by catalog path (reference ``readwriter.py:70-76``).
PATH_FORMATS = {"parquet", "json", "orc", "csv", "text", "delta"}


def default_table_format(spark: SparkSession) -> str:
    return "delta" if has_delta(spark) else "parquet"


def read_table(
    spark: SparkSession,
    catalog: Catalog,
    ref: TableRef,
    fmt: str | None = None,
    schema: Any = None,
    **options: Any,
) -> DataFrame:
    """Batch read by coordinates (reference ``readwriter.py:65-117``).

    A parquet read goes through the table resolver
    (``maintenance._snapshot``), so a ``jibaro_spark.txlog`` table
    returns its live snapshot (with the schema its log records), not
    the removed-but-not-vacuumed files beside it."""
    fmt = fmt or default_table_format(spark)
    reader = spark.read.format(fmt).options(**options)
    if fmt == "parquet":
        from jibaro_spark.maintenance import _snapshot

        snap = _snapshot(spark, catalog.path(ref))
        if snap.format == "txlog":
            return reader.schema(
                schema if schema is not None else snap.df.schema
            ).load(snap.files)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt in PATH_FORMATS:
        return reader.load(catalog.path(ref))
    return reader.load()


def write_table(
    df: DataFrame,
    catalog: Catalog,
    ref: TableRef,
    fmt: str | None = None,
    mode: str = "append",
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    **options: Any,
) -> None:
    """Batch write by coordinates (reference ``readwriter.py:16-54``).

    ``merge_schema=True`` maps to Delta's schema-evolution-on-write
    (reference ``avro_handler.py:85-96``); a no-op under parquet, where
    evolution is resolved at read time via ``mergeSchema``.
    """
    fmt = fmt or default_table_format(df.sparkSession)
    writer = df.write.format(fmt).mode(mode).options(**options)
    if merge_schema and fmt == "delta":
        writer = writer.option("mergeSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt in PATH_FORMATS:
        writer.save(catalog.path(ref))
    else:
        writer.save()


def read_stream(
    spark: SparkSession,
    catalog: Catalog,
    ref: TableRef,
    fmt: str | None = None,
    schema: Any = None,
    max_files_per_trigger: int | None = None,
    **options: Any,
) -> DataFrame:
    """Streaming read by coordinates (reference ``streaming.py:11-51``).

    Structured Streaming needs the schema of a path-mounted source up
    front (Delta brings its own from its log).  Without ``schema=``
    the table's schema record is used: the ``_schema.json`` the hop
    that writes the table keeps beside it
    (:func:`update_schema_record`), read with one file open and no
    Spark job.  Only a table that has no record falls back to
    inference, a Spark job over the footers of every file of the table
    (:func:`infer_schema`).
    """
    fmt = fmt or default_table_format(spark)
    path = catalog.path(ref)
    if max_files_per_trigger is not None:
        options = {**options, "maxFilesPerTrigger": str(max_files_per_trigger)}
    reader = spark.readStream.format(fmt).options(**options)
    if schema is None and fmt in PATH_FORMATS - {"delta"}:
        record = read_schema_record(spark, catalog, ref)
        schema = (
            StructType.fromJson(record["schema"]) if record
            else infer_schema(spark, path, fmt)
        )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


#: The schema record's file name in a table root: ``_``-prefixed, so
#: Spark's listing (and ``maintenance._listing``) never reads it as data.
SCHEMA_RECORD = "_schema.json"


def infer_schema(spark: SparkSession, path: str, fmt: str = "parquet") -> StructType:
    """The schema a batch read of ``path`` infers: one Spark job.  For
    parquet it is the union of ALL file schemas (``mergeSchema``), not
    the first file's: staged tables evolve mid-stream (K2 appends) and
    a first-file schema would silently drop evolved columns."""
    infer = spark.read.format(fmt)
    if fmt == "parquet":
        infer = infer.option("mergeSchema", "true")
    return infer.load(path).schema


def read_schema_record(
    spark: SparkSession, catalog: Catalog, ref: TableRef
) -> "dict | None":
    """The table's ``_schema.json`` record, or None when it has none:
    ``{"schema": <StructType JSON>, "keys": [...]}``."""
    from jibaro_spark.maintenance import _fs

    fs, p = _fs(spark, f"{catalog.path(ref)}/{SCHEMA_RECORD}")
    try:
        stream = fs.open(p)
    except Py4JJavaError as ex:
        if ex.java_exception.getClass().getName() == "java.io.FileNotFoundException":
            return None
        raise
    try:
        text = spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def _write_schema_record(
    spark: SparkSession, catalog: Catalog, ref: TableRef, record: dict
) -> None:
    """Replace the table's record atomically: the JSON is written under
    a hidden temporary name in the table root, then renamed over the
    record with ``FileContext``'s overwriting rename."""
    from jibaro_spark.maintenance import _fs

    root = catalog.path(ref)
    fs, tmp = _fs(spark, f"{root}/.{SCHEMA_RECORD}.{uuid.uuid4().hex}")
    out = fs.create(tmp, True)
    try:
        out.write(json.dumps(record).encode())
    finally:
        out.close()
    jvm = spark.sparkContext._jvm
    rename = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename, 1)
    opts[0] = rename.OVERWRITE
    jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        tmp.toUri(), spark.sparkContext._jsc.hadoopConfiguration()
    ).rename(tmp, jvm.org.apache.hadoop.fs.Path(f"{root}/{SCHEMA_RECORD}"), opts)


def update_schema_record(
    spark: SparkSession,
    catalog: Catalog,
    ref: TableRef,
    keys: "list[str]",
    record: "dict | None",
) -> "dict | None":
    """Keep the table's schema record true after a write and return it.

    ``keys`` name the file schemas the write added, in the writing
    hop's own terms (a schema pair, a digest of the stream schema);
    ``record`` is the record as the caller last read it.  When every
    key is already recorded the table schema cannot have changed and
    nothing is read or written.  Otherwise the schema is inferred once
    (:func:`infer_schema`) and recorded with the keys, so the record
    always equals what inference would give.  A table with no files
    to infer from gets no record."""
    known = set(record["keys"]) if record else set()
    if not keys or set(keys) <= known:
        return record
    try:
        schema = infer_schema(spark, catalog.path(ref))
    except AnalysisException:  # nothing written yet
        return record
    record = {"schema": schema.jsonValue(), "keys": sorted(known | set(keys))}
    _write_schema_record(spark, catalog, ref, record)
    return record


def write_stream(
    df: DataFrame,
    catalog: Catalog,
    ref: TableRef,
    fmt: str | None = None,
    output_mode: str = "append",
    available_now: bool = True,
    foreach_batch: Any = None,
    **options: Any,
) -> StreamingQuery:
    """Streaming write by coordinates with the auto-mounted checkpoint
    convention (reference ``streaming.py:56-65``) and bounded
    incremental triggers (reference ``cdc.py:41-45``:
    ``trigger(availableNow=True)`` — stream-as-batch).
    """
    writer: DataStreamWriter = (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", catalog.checkpoint_path(ref))
        .options(**options)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    if foreach_batch is not None:
        return writer.foreachBatch(foreach_batch).start()
    fmt = fmt or default_table_format(df.sparkSession)
    return writer.format(fmt).start(catalog.path(ref))


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write a session-catalog table bucketed (and optionally sorted)
    by ``bucket_cols`` — the co-located-join primitive ([ext]; the
    reference, being Delta-path-only, has no bucketing surface).

    Two tables bucketed by the same columns into the same bucket count
    join WITHOUT a shuffle: each bucket pairs 1:1 and Spark plans a
    SortMergeJoin with no Exchange on either side (verified by plan
    assertion in tests).  At 100 TB this converts the nightly
    fact-to-fact join from the dominant shuffle into a local merge —
    the batch analogue of co-partitioned Kafka topics.

    Bucketing requires ``saveAsTable`` (bucket metadata lives in the
    session catalog, not the files): pick ``num_buckets`` so a bucket
    of the LARGER table stays executor-memory-sized.
    """
    if mode == "overwrite":
        # With an ephemeral (in-memory/fresh-derby) catalog the table
        # METADATA dies with the session but the managed warehouse
        # directory does not; a later saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS.  Drop both.  The location is
        # RESOLVED through the catalog (ADVICE r4) — a qualified
        # 'db.tbl' name or a non-default current database lands under
        # <db-location>/<tbl>, not <warehouse>/<name>; and the py4j FS
        # cleanup is skipped gracefully where the JVM gateway does not
        # exist (Spark Connect), leaving only the (pre-existing)
        # LOCATION_ALREADY_EXISTS failure mode there.
        spark = df.sparkSession
        loc = None
        try:
            if spark.catalog.tableExists(table_name):
                for r in spark.sql(
                    f"DESCRIBE TABLE EXTENDED {table_name}"
                ).collect():
                    if r[0] == "Location":
                        loc = r[1]
                        break
        except Exception:
            loc = None
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        if loc is None:
            parts = table_name.split(".")
            db = parts[0] if len(parts) == 2 else spark.catalog.currentDatabase()
            try:
                db_loc = spark.catalog.getDatabase(db).locationUri
                loc = f"{db_loc.rstrip('/')}/{parts[-1].lower()}"
            except Exception:
                loc = None
        if loc is not None:
            try:
                jvm = spark.sparkContext._jvm
                hconf = spark.sparkContext._jsc.hadoopConfiguration()
                p = jvm.org.apache.hadoop.fs.Path(loc)
                fs = p.getFileSystem(hconf)
                if fs.exists(p):
                    fs.delete(p, True)
            except Exception:
                pass  # no JVM gateway (Spark Connect) — metadata drop above suffices
    writer = df.write.format(fmt).mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def idempotent_batch_writer(
    table_path: str, mode: str = "append", txn_app: str | None = None
):
    """``foreachBatch`` callback writing each micro-batch to a
    ``jibaro_spark.txlog`` versioned table EXACTLY ONCE.

    Structured Streaming re-delivers the in-flight micro-batch after a
    restart (``foreachBatch`` is at-least-once); the txlog's
    transactional watermark (``txn_app``/``txn_version`` =
    table identity/batch id, the Delta ``txnAppId``/``txnVersion``
    pattern — reference sink ``cdc.py:250-256``) turns that into
    exactly-once table commits: a replayed ``batch_id`` at or below
    the committed watermark writes nothing.

    ``txn_app`` is the WRITER's identity (Delta's ``txnAppId``,
    reference ``cdc.py:250-256``) — pass the checkpoint location or
    query name.  It defaults to the table path only as a single-writer
    convenience; two DIFFERENT streaming queries appending to one
    table MUST pass distinct ``txn_app`` values, or they share a
    watermark and the later-starting query's batches are silently
    skipped (ADVICE r5).  Batch ids must move forward for a given
    ``txn_app``'s lifetime: restarting from the SAME checkpoint (the
    normal failure recovery) is safe — batch ids continue; starting a
    FRESH checkpoint over a source that has since grown replays ids
    from 0 below the watermark — pass a new ``txn_app`` when
    intentionally reprocessing from scratch.
    """
    app = txn_app if txn_app is not None else f"stream::{table_path}"

    def write(df: DataFrame, batch_id: int) -> None:
        from jibaro_spark import txlog

        txlog.write_versioned(
            df,
            table_path,
            mode=mode,
            operation=f"STREAMING-BATCH-{batch_id}",
            txn_app=app,
            txn_version=int(batch_id),
        )

    return write


def observed_write(
    df: DataFrame,
    path: str,
    name: str = "write_metrics",
    metrics: "dict[str, Any] | None" = None,
    fmt: str = "parquet",
    mode: str = "append",
) -> dict:
    """Write ``df`` and return batch metrics measured DURING the write
    — ``spark.sql.Observation`` attaches aggregate expressions to the
    existing job, so the row count / sums the reference's history
    table records per merge (``cdc.py:224-247``) cost ZERO extra scans
    (its ``DeltaTable.history`` numbers come from the commit the write
    already made; this is the same no-second-pass contract for any
    sink).

    ``metrics`` maps name → aggregate Column (default: ``n_rows``).
    Returns the observed dict.  Works for any batch write; for
    ``foreachBatch`` bodies call it inside the batch function.
    """
    from pyspark.sql import Observation

    exprs = dict(metrics or {})
    if not exprs:
        exprs = {"n_rows": F.count(F.lit(1))}
    obs = Observation(name)
    observed = df.observe(obs, *[c.alias(k) for k, c in exprs.items()])
    observed.write.format(fmt).mode(mode).save(path)
    return dict(obs.get)
