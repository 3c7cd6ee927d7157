"""Layer-to-layer pipeline hops (reference ``jibaro/datalake/cdc.py``).

Each hop is Structured Streaming with a bounded incremental trigger
(``availableNow`` — stream-as-batch, reference ``cdc.py:41-45``), the
per-table checkpoint convention (``streaming.py:60-62``), and
``foreachBatch`` for the decode/merge loops (``avro_handler.py:117-137``,
``cdc.py:249-256``).

Source flexibility: ``kafka_to_raw`` uses the Kafka connector when its
jar is on the classpath; ``source_to_raw`` accepts any streaming
DataFrame with the Kafka record shape (key/value binary + metadata,
FIXTURES §1.2) so the full 3-hop pipeline is testable against
file-backed fixtures — same plans, same checkpoints, no broker.

Delivery semantics (T4, tightened per ADVICE r1): the staged append is
made replay-idempotent explicitly, not by claim — on Delta via
transactional ``txnAppId``/``txnVersion`` (a replayed ``batch_id`` is
skipped by the commit protocol); on the parquet emulation by writing
each (micro-batch, schema pair) to its own leaf directory,
``_batch_id=N/_schema_pair=P``, with a plain overwrite of exactly that
leaf, so a replay after a crash between write and checkpoint commit
REWRITES the same leaf instead of duplicating rows.  The leaf is a
Hive partition of the staged table, so readers see ``_batch_id`` and
``_schema_pair`` columns as before; unlike a dynamic-partition
overwrite of the table root, the write needs no ``.spark-staging``
directory and no partition renames at commit.  A leaf may hold one
zero-row file (Spark's first write task keeps its file when it holds
none of the pair's rows); it lands beside the leaf's other files, so
the curated hop reads it in the same micro-batch as they are.  The
curated hop is idempotent by construction (latest-per-key dedup +
keyed MERGE absorbs replays).

Schema handover: a hop that writes a parquet table keeps its schema in
the table root (``_schema.json``, :func:`jibaro_spark.io.
update_schema_record`), and the next hop's :func:`jibaro_spark.io.
read_stream` takes it from there instead of inferring it with a Spark
job over every file.  ``source_to_raw`` keys the record by the stream
schema and ``raw_to_staged`` by schema pair (a Confluent id never
changes its schema), so only a new stream schema or a new pair costs
one inference.
"""

from __future__ import annotations

import hashlib
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jibaro_spark.catalog import Catalog, Layer, TableRef
from jibaro_spark.codecs.confluent import (
    SchemaRegistry,
    decode_confluent_batch_pairs,
)
from jibaro_spark.io import (
    default_table_format,
    read_schema_record,
    read_stream,
    update_schema_record,
    write_stream,
    write_table,
)
from jibaro_spark.operators.cdc import cdc_merge_table
from jibaro_spark.session import has_kafka


def kafka_to_raw(
    spark: SparkSession,
    catalog: Catalog,
    topic: str,
    project: str,
    database: str,
    table: str,
    options: dict[str, str] | None = None,
) -> None:
    """Stream a Kafka topic into the raw layer, payload kept as opaque
    binary (reference ``cdc.py:15-51``).

    Applies ``options.items()`` — the reference iterated dict KEYS
    (``for k, v in options:``), crashing on any custom option
    (SURVEY §2.13); fixed here.
    """
    if not has_kafka(spark):
        raise RuntimeError(
            "kafka connector jar (spark-sql-kafka-0-10) not on the classpath"
        )
    s = catalog.settings
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", s.kafka_bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", str(s.max_offsets_per_trigger))
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    source_to_raw(reader.load(), catalog, project, database, table)


def source_to_raw(
    stream: DataFrame,
    catalog: Catalog,
    project: str,
    database: str,
    table: str,
) -> None:
    """Kafka-shaped streaming DataFrame → raw-layer table (binary
    payloads + metadata, no decode — raw layer = exact source bytes,
    reference ``cdc.py:38-51``).  On parquet the raw table's schema
    record is keyed by a digest of ``stream.schema``."""
    ref = TableRef(str(Layer.RAW), project, database, table)
    q = write_stream(stream, catalog, ref, output_mode="append")
    q.awaitTermination()
    if default_table_format(stream.sparkSession) != "delta":
        key = hashlib.sha256(stream.schema.json().encode()).hexdigest()[:16]
        update_schema_record(
            stream.sparkSession, catalog, ref, [key],
            read_schema_record(stream.sparkSession, catalog, ref),
        )


def raw_to_staged(
    spark: SparkSession,
    catalog: Catalog,
    project: str,
    database: str,
    table: str,
    registry: SchemaRegistry,
    content_type: str = "json",
    schema_resolver: Callable[[str, int], Any] | None = None,
    on_unknown_schema: str = "error",
) -> None:
    """Decode Confluent-framed raw records into typed staged tables,
    schema-id-partitioned (reference ``cdc.py:54-88`` →
    ``avro_handler.py:99-138`` / ``protobuf_handler.py:136-180``).

    Per micro-batch: wire-format slice → distinct schema pairs →
    per-pair decode → idempotent append with schema evolution (K2).
    The decode is :func:`~jibaro_spark.codecs.confluent.
    decode_confluent_batch_pairs`: ``content_type`` is any key of
    :data:`~jibaro_spark.codecs.confluent.CODECS` (the jar lanes and
    the jar-free ones alike), and ``schema_resolver`` is optional on every lane — by default each
    id's reader schema is the codec's reading of the registry text.
    Replay safety (module docstring): Delta appends carry
    ``txnAppId``/``txnVersion=batch_id``; parquet appends overwrite
    their own ``_batch_id=N/_schema_pair=P`` leaf in place, so
    re-processing a micro-batch cannot duplicate staged rows.  On
    parquet the staged schema record is keyed by schema pair: a batch
    of known pairs writes no record and infers no schema.

    ``on_unknown_schema`` (r12): ``"error"`` (default) fails the
    micro-batch loudly on a frame whose schema id the registry cannot
    resolve; ``"keep"`` parks those pairs — raw binary payloads, ids,
    and Kafka metadata — in a ``{table}__dead_letter`` STAGED table
    (same idempotent-append discipline) so the stream keeps flowing
    and the frames replay after the registry is fixed; ``"skip"``
    drops them.  Dead-letter frames are recognized structurally: a
    BINARY payload column alongside a non-null schema id can only be
    an undecoded frame (decoded values are structs/strings; a
    tombstone-keep/keyless null binary carries a NULL id).
    """
    from jibaro_spark.codecs.confluent import CODECS, release_scratch

    if content_type not in CODECS:
        # validate eagerly — inside foreachBatch the error would be
        # silently skipped whenever the checkpoint yields an empty batch
        raise ValueError(
            f"unknown content_type {content_type!r}; known: {sorted(CODECS)}"
        )
    src = TableRef(str(Layer.RAW), project, database, table)
    dst = TableRef(str(Layer.STAGED), project, database, table)
    dlq = TableRef(str(Layer.STAGED), project, database, f"{table}__dead_letter")
    fmt = default_table_format(spark)
    # the staged schema record as last read or written, across the
    # micro-batches of this call
    staged_record = read_schema_record(spark, catalog, dst) if fmt != "delta" else None

    def process(batch: DataFrame, batch_id: int) -> None:
        nonlocal staged_record
        # scratch enables pair_frames' staged route: a many-schema
        # batch (pairs > SPILL_THRESHOLD) is re-partitioned ONCE by
        # schema pair so each per-pair append reads only its own
        # partition directory — O(batch) total scan instead of
        # O(pairs × batch) (the 10k-distinct-id job storm, VERDICT
        # r11 #2).  That route overwrites the scratch dir and
        # release_scratch removes it; the common few-schema batch takes
        # the direct filters and touches no file system.
        scratch = f"{catalog.checkpoint_path(dst)}/_decode_scratch/{batch_id}"
        try:
            pairs = decode_confluent_batch_pairs(
                batch, registry, content_type, schema_resolver,
                scratch_dir=scratch, on_unknown_schema=on_unknown_schema,
            )
            written = _write_pairs(batch_id, pairs)
        finally:
            release_scratch(batch.sparkSession, scratch)
        if fmt != "delta":
            staged_record = update_schema_record(
                batch.sparkSession, catalog, dst, written, staged_record
            )

    def _is_dead_letter(decoded: DataFrame, key_id, value_id) -> bool:
        types = dict(decoded.dtypes)
        return (value_id is not None and types.get("value") == "binary") or (
            key_id is not None and types.get("key") == "binary"
        )

    def _write_partition(decoded: DataFrame, ref: TableRef, batch_id: int,
                         pair: str) -> None:
        # idempotent append: the (batch, schema pair) partition is
        # overwritten, so a replayed batch cannot duplicate
        if fmt == "delta":
            write_table(
                decoded.withColumn("_batch_id", F.lit(batch_id))
                .withColumn("_schema_pair", F.lit(pair)),
                catalog, ref, mode="overwrite",
                partition_by=["_batch_id", "_schema_pair"],
                partitionOverwriteMode="dynamic",
            )
            return
        # parquet: a plain overwrite of exactly the leaf; no _SUCCESS
        # marker, as the dynamic-partition write left none in leaves
        leaf = f"{catalog.path(ref)}/_batch_id={batch_id}/_schema_pair={pair}"
        (
            decoded.write.mode("overwrite")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .parquet(leaf)
        )

    def _write_pairs(batch_id: int, pairs) -> "list[str]":
        """Write each decoded pair; returns the pairs written to the
        staged table itself."""
        written = []
        for (key_id, value_id), decoded in pairs:
            pair = f"{key_id}-{value_id}"
            if _is_dead_letter(decoded, key_id, value_id):
                # undecodable pair (on_unknown_schema='keep'): park the
                # raw frames idempotently beside the staged table; they
                # replay through this hop once the registry resolves
                _write_partition(decoded, dlq, batch_id, pair)
                continue
            if fmt == "delta":
                # txnAppId must be unique PER SCHEMA PAIR: Delta's idempotent
                # writes skip any txn whose version <= the last recorded
                # version for that appId, so a shared appId would keep only
                # the first pair's append in a multi-schema batch.
                write_table(
                    decoded, catalog, dst, mode="append", merge_schema=True,
                    txnAppId=f"raw_to_staged:{catalog.path(dst)}:{pair}",
                    txnVersion=str(batch_id),
                )
            else:
                _write_partition(decoded, dst, batch_id, pair)
            written.append(pair)
        return written

    stream = read_stream(
        spark, catalog, src,
        max_files_per_trigger=catalog.settings.max_files_per_trigger,
    )
    q = write_stream(stream, catalog, dst, foreach_batch=process)
    q.awaitTermination()


def staged_to_curated(
    spark: SparkSession,
    catalog: Catalog,
    project: str,
    database: str,
    table: str,
    key_cols: Sequence[str],
    order_by: Sequence[str] = ("timestamp",),
    post_hooks: Sequence[Callable[[SparkSession, Catalog, TableRef], Any]] = (),
) -> None:
    """Merge staged Debezium envelopes into the curated current-state
    table (reference ``cdc.py:91-269``): per micro-batch latest-per-key
    dedup + CDC MERGE; then maintenance hooks (compaction, history,
    manifest, vacuum — see :mod:`jibaro_spark.maintenance`)."""
    src = TableRef(str(Layer.STAGED), project, database, table)
    dst = TableRef(str(Layer.CURATED), project, database, table)

    def process(batch: DataFrame, batch_id: int) -> None:
        # a micro-batch holds rows: the stream runs no batch when no
        # file is new, and the only zero-row staged files are leaves'
        # first-task files (module docstring), each written beside
        # non-empty ones.  Only a max_files_per_trigger of 1 or 2 could
        # cut a batch of zero-row files alone, and its MERGE would
        # commit a version that changes no row.
        metrics = cdc_merge_table(
            spark, catalog, batch, dst, key_cols=list(key_cols), order_by=list(order_by)
        )
        # per-merge history row, the reference's cadence (cdc.py:224-247):
        # rowsWritten was observed by the merge's own write job — the
        # history append costs one file listing, never a second scan
        from jibaro_spark.maintenance import append_history_metrics

        append_history_metrics(
            spark,
            catalog,
            dst,
            operation=str((metrics or {}).get("operation", "MERGE")),
            extra={
                **{k: str(v) for k, v in (metrics or {}).items() if k != "operation"},
                "batchId": str(batch_id),
            },
        )

    stream = read_stream(
        spark, catalog, src,
        max_files_per_trigger=catalog.settings.max_files_per_trigger,
    )
    q = write_stream(stream, catalog, dst, foreach_batch=process)
    q.awaitTermination()
    for hook in post_hooks:
        hook(spark, catalog, dst)


def publish_table(
    spark: SparkSession,
    catalog: Catalog,
    ref: TableRef,
    key_cols: list[str],
    registry: SchemaRegistry,
    topic: str,
    content_type: str = "json",
    sink: Callable[[DataFrame], None] | None = None,
) -> DataFrame:
    """Reverse path — publish a table back in Confluent wire format
    (reference ``kafka.py:22-119``) through
    :func:`~jibaro_spark.codecs.confluent.encode_confluent`, which
    takes every ``content_type`` with an encoder (all but the jar
    ``protobuf`` lane).  Returns the Kafka-shaped frame; ``sink``
    defaults to the Kafka batch sink when the connector jar is
    present, else the caller consumes the returned DataFrame.
    """
    from jibaro_spark.codecs.confluent import encode_confluent
    from jibaro_spark.io import read_table

    df = read_table(spark, catalog, ref)
    framed = encode_confluent(df, key_cols, registry, topic, content_type)
    if sink is not None:
        sink(framed)
    elif has_kafka(spark):
        (
            framed.write.format("kafka")
            .option(
                "kafka.bootstrap.servers",
                catalog.settings.kafka_bootstrap_servers,
            )
            .option("topic", topic)
            .save()
        )
    return framed
