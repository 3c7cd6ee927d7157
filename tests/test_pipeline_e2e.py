"""End-to-end 3-hop pipeline test (SURVEY §3.1-3.3 re-created on
file-backed fixtures): Kafka-shaped topic dump → raw → staged →
curated, incl. checkpointed incremental re-runs and the maintenance
hooks — the reference's whole `make testavro` flow without a broker
(FIXTURES §1 scenarios)."""

from __future__ import annotations

import datetime
import json
import struct

import pytest

# battery class (r13 suite split — see pytest.ini): excluded from the
# default fast-core run the round driver's verify window executes
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

from jibaro_spark.catalog import Catalog, Layer, TableRef
from jibaro_spark.codecs.confluent import InMemorySchemaRegistry
from jibaro_spark.config import Settings
from jibaro_spark.maintenance import append_history_metrics, compact, table_stats
from jibaro_spark.streaming import pipeline as pl

KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)

KEY_SCHEMA = "id INT"
VALUE_SCHEMA = (
    "op STRING, "
    "before STRUCT<id INT, name STRING, weight DOUBLE>, "
    "after STRUCT<id INT, name STRING, weight DOUBLE>"
)


def frame(payload: bytes, schema_id: int) -> bytes:
    return b"\x00" + struct.pack(">I", schema_id) + payload


@pytest.fixture()
def lake(tmp_path):
    settings = Settings(protocol="file", base_path=str(tmp_path))
    return Catalog(settings)


@pytest.fixture()
def registry():
    reg = InMemorySchemaRegistry()
    key_id = reg.register("products-key", KEY_SCHEMA)
    val_id = reg.register("products-value", VALUE_SCHEMA)
    return reg, key_id, val_id


def change(key_id, val_id, op, row, before=None, offset=0):
    key = frame(json.dumps({"id": row["id"]}).encode(), key_id)
    env = {"op": op, "before": before, "after": None if op == "d" else row}
    if op == "d":
        env["before"] = before or row
    value = frame(json.dumps(env).encode(), val_id)
    return (
        key,
        value,
        "dbserver1.inventory.products",
        0,
        offset,
        datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=offset),
        0,
    )


def run_hops(spark, lake, registry):
    reg, _, _ = registry
    src_dir = lake.settings.base_path + "/source_topic"
    stream = (
        spark.readStream.schema(KAFKA_SCHEMA).parquet(src_dir)
    )
    pl.source_to_raw(stream, lake, "lab", "inventory", "products")
    pl.raw_to_staged(spark, lake, "lab", "inventory", "products", reg, "json")
    pl.staged_to_curated(
        spark, lake, "lab", "inventory", "products", key_cols=["id"]
    )


def write_topic_dump(spark, lake, rows, filename):
    src_dir = lake.settings.base_path + "/source_topic"
    df = spark.createDataFrame(rows, KAFKA_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(src_dir)


def curated(spark, lake):
    ref = TableRef(str(Layer.CURATED), "lab", "inventory", "products")
    return spark.read.parquet(lake.path(ref))


def test_three_hop_pipeline_with_incremental_rerun(spark, lake, registry):
    reg, kid, vid = registry

    # -- batch 1: snapshot (r) of 3 products, plus an insert+update of
    # the same key in one batch (A3 dedup) and a delete.
    rows1 = [
        change(kid, vid, "r", {"id": 1, "name": "a", "weight": 1.0}, offset=0),
        change(kid, vid, "r", {"id": 2, "name": "b", "weight": 2.0}, offset=1),
        change(kid, vid, "r", {"id": 3, "name": "c", "weight": 3.0}, offset=2),
        change(kid, vid, "c", {"id": 4, "name": "d", "weight": 4.0}, offset=3),
        change(kid, vid, "u", {"id": 4, "name": "d2", "weight": 4.5}, offset=4),
        change(
            kid, vid, "d", {"id": 2, "name": "b", "weight": 2.0}, offset=5
        ),
    ]
    write_topic_dump(spark, lake, rows1, "batch1")
    run_hops(spark, lake, registry)

    got = {r.id: (r.name, r.weight, r.op) for r in curated(spark, lake).collect()}
    assert got == {
        1: ("a", 1.0, "r"),
        3: ("c", 3.0, "r"),
        4: ("d2", 4.5, "u"),  # latest-per-key within the batch wins
    }

    # -- batch 2 (incremental: checkpoints skip batch 1 files):
    # update key 1, delete key 3, re-insert key 2.
    rows2 = [
        change(kid, vid, "u", {"id": 1, "name": "a9", "weight": 9.0}, offset=10),
        change(
            kid, vid, "d", {"id": 3, "name": "c", "weight": 3.0}, offset=11
        ),
        change(kid, vid, "c", {"id": 2, "name": "b2", "weight": 2.2}, offset=12),
    ]
    write_topic_dump(spark, lake, rows2, "batch2")
    run_hops(spark, lake, registry)

    got = {r.id: (r.name, r.weight, r.op) for r in curated(spark, lake).collect()}
    assert got == {
        1: ("a9", 9.0, "u"),
        2: ("b2", 2.2, "c"),
        4: ("d2", 4.5, "u"),
    }

    # raw layer holds exact source bytes (no decode)
    raw_ref = TableRef(str(Layer.RAW), "lab", "inventory", "products")
    raw = spark.read.parquet(lake.path(raw_ref))
    assert raw.count() == 9
    assert dict(raw.dtypes)["value"] == "binary"

    # staged layer: typed structs + kafka metadata + schema ids
    staged_ref = TableRef(str(Layer.STAGED), "lab", "inventory", "products")
    staged = spark.read.parquet(lake.path(staged_ref))
    assert staged.count() == 9
    assert staged.filter(F.col("valueSchemaId") == vid).count() == 9
    assert "op" in staged.select("value.*").columns


def test_maintenance_compact_and_history(spark, lake):
    ref = TableRef(str(Layer.CURATED), "lab", "inventory", "widgets")
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    df.repartition(20).write.parquet(lake.path(ref))
    before = table_stats(spark, lake.path(ref))
    assert before.num_files == 20

    # under threshold → no-op; force → rewrite to sized partitions
    assert compact(spark, lake, ref) is False
    assert compact(spark, lake, ref, force=True) is True
    after = table_stats(spark, lake.path(ref))
    assert after.num_files < before.num_files
    got = spark.read.parquet(lake.path(ref))
    assert got.count() == 1000
    assert got.agg(F.sum("v")).collect()[0][0] == 999 * 1000

    append_history_metrics(spark, lake, ref, operation="COMPACT")
    hist = spark.read.parquet(lake.history_path(ref))
    assert hist.count() == 1
    row = hist.collect()[0]
    assert row.operation == "COMPACT" and row.numFiles == after.num_files
    # one append, one data file; the schema is the one the history
    # table has always had (sorted metric columns, then recordedAt)
    assert table_stats(spark, lake.history_path(ref)).num_files == 1
    assert hist.schema == StructType(
        [
            StructField("numFiles", LongType()),
            StructField("operation", StringType()),
            StructField("sizeBytes", LongType()),
            StructField("recordedAt", TimestampType()),
        ]
    )


VALUE_SCHEMA_V2 = (
    "op STRING, "
    "before STRUCT<id INT, name STRING, weight DOUBLE, color STRING>, "
    "after STRUCT<id INT, name STRING, weight DOUBLE, color STRING>"
)


def test_schema_evolution_mid_stream(spark, lake, registry):
    """FIXTURES §1 scenario: the value schema gains a column between
    batches. The staged table must carry BOTH schema versions (merged
    parquet read — a first-file-schema inference would silently drop
    the new column) and the curated table must surface the new column
    with nulls for pre-evolution rows."""
    reg, kid, vid = registry
    vid2 = reg.register("products-value", VALUE_SCHEMA_V2)

    rows1 = [
        change(kid, vid, "r", {"id": 1, "name": "a", "weight": 1.0}, offset=0),
        change(kid, vid, "r", {"id": 2, "name": "b", "weight": 2.0}, offset=1),
    ]
    write_topic_dump(spark, lake, rows1, "b1")
    run_hops(spark, lake, registry)

    # batch 2 uses the evolved schema (extra 'color' field)
    rows2 = [
        change(
            kid, vid2, "u",
            {"id": 2, "name": "b2", "weight": 2.5, "color": "red"}, offset=10,
        ),
        change(
            kid, vid2, "c",
            {"id": 3, "name": "c", "weight": 3.0, "color": "blue"}, offset=11,
        ),
    ]
    write_topic_dump(spark, lake, rows2, "b2")
    run_hops(spark, lake, registry)

    got = {
        r.id: (r.name, r.weight, getattr(r, "color", None), r.op)
        for r in curated(spark, lake).collect()
    }
    assert got == {
        1: ("a", 1.0, None, "r"),
        2: ("b2", 2.5, "red", "u"),
        3: ("c", 3.0, "blue", "c"),
    }

    staged_ref = TableRef(str(Layer.STAGED), "lab", "inventory", "products")
    staged = spark.read.option("mergeSchema", "true").parquet(lake.path(staged_ref))
    assert "color" in staged.select("value.after.*").columns
    ids = {r.valueSchemaId for r in staged.select("valueSchemaId").collect()}
    assert ids == {vid, vid2}


def test_staged_append_replay_idempotent(spark, lake, registry):
    """A replayed micro-batch (crash between staged write and
    checkpoint commit) must not duplicate staged rows (ADVICE r1): the
    parquet emulation lands each batch in a ``_batch_id``/pair leaf
    that a replay overwrites in place."""
    import shutil

    reg, kid, vid = registry
    rows = [
        change(kid, vid, "r", {"id": 1, "name": "a", "weight": 1.0}, offset=0),
        change(kid, vid, "r", {"id": 2, "name": "b", "weight": 2.0}, offset=1),
    ]
    write_topic_dump(spark, lake, rows, "batch1")
    run_hops(spark, lake, registry)

    staged_ref = TableRef(str(Layer.STAGED), "lab", "inventory", "products")
    staged = spark.read.parquet(lake.path(staged_ref))
    assert staged.count() == 2
    assert "_batch_id" in staged.columns and "_schema_pair" in staged.columns

    # simulate replay: drop the staged-hop checkpoint so the file
    # stream re-delivers every raw file as batch 0 again
    shutil.rmtree(lake.checkpoint_path(staged_ref), ignore_errors=True)
    pl.raw_to_staged(spark, lake, "lab", "inventory", "products", reg, "json")
    assert spark.read.parquet(lake.path(staged_ref)).count() == 2  # no dupes


def test_publish_table_roundtrip(spark, lake, registry):
    """Reverse path (kafka.py:22-119 analogue): curated table → Confluent
    wire frame → decode recovers the rows; schemas land in the registry."""
    import json

    from jibaro_spark.codecs.confluent import (
        _decode_json,
        payload_of,
        schema_id_of,
    )

    reg, _, _ = registry
    ref = TableRef(str(Layer.CURATED), "lab", "inventory", "pub")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id int, name string, weight double"
    )
    df.write.parquet(lake.path(ref))

    framed = pl.publish_table(
        spark, lake, ref, key_cols=["id"], registry=reg,
        topic="out.products", content_type="json",
    )
    rows = framed.collect()
    assert all(bytes(r.value)[0] == 0 for r in rows)  # magic byte
    ids = framed.select(
        schema_id_of("key").alias("k"), schema_id_of("value").alias("v")
    ).distinct().collect()
    assert len(ids) == 1
    # registered schemas are JSON Schema draft-07; the engine's decode
    # path converts them back to StructType and recovers the rows
    # (key columns live in the key struct, the rest in the value)
    kschema = reg.get_schema(ids[0].k)
    vschema = reg.get_schema(ids[0].v)
    assert json.loads(vschema)["$schema"] == "http://json-schema.org/draft-07/schema#"
    decoded = framed.select(
        _decode_json(payload_of("key", "json"), kschema).alias("k"),
        _decode_json(payload_of("value", "json"), vschema).alias("v"),
    ).collect()
    got = sorted((r.k.id, r.v.name, r.v.weight) for r in decoded)
    assert got == [(1, "a", 1.0), (2, "b", 2.0)]


def test_three_hop_pipeline_on_txlog_curated(spark, tmp_path, registry):
    """The full 3-hop pipeline with Settings(use_txlog=True): the
    curated layer is a TRANSACTIONAL versioned table — initial load is
    version 0, each incremental merge is a new MERGE commit, the prior
    version stays time-travelable, and final state equals the plain
    pipeline's."""
    from jibaro_spark import txlog

    lake = Catalog(
        Settings(protocol="file", base_path=str(tmp_path), use_txlog=True)
    )
    reg, kid, vid = registry
    rows1 = [
        change(kid, vid, "r", {"id": 1, "name": "a", "weight": 1.0}, offset=0),
        change(kid, vid, "r", {"id": 2, "name": "b", "weight": 2.0}, offset=1),
        change(kid, vid, "c", {"id": 4, "name": "d", "weight": 4.0}, offset=2),
    ]
    write_topic_dump(spark, lake, rows1, "batch1")
    run_hops(spark, lake, registry)

    ref = TableRef(str(Layer.CURATED), "lab", "inventory", "products")
    path = lake.path(ref)
    assert txlog.latest_version(path) == 0
    assert txlog.history(path)[0]["operation"] == "INITIAL_LOAD"
    v0 = {r.id for r in txlog.read_versioned(spark, path).collect()}
    assert v0 == {1, 2, 4}

    rows2 = [
        change(kid, vid, "u", {"id": 1, "name": "a9", "weight": 9.0}, offset=10),
        change(kid, vid, "d", {"id": 2, "name": "b", "weight": 2.0}, offset=11),
    ]
    write_topic_dump(spark, lake, rows2, "batch2")
    run_hops(spark, lake, registry)

    assert txlog.latest_version(path) == 1
    assert txlog.history(path)[0]["operation"] == "MERGE"
    got = {
        r.id: (r.name, r.weight)
        for r in txlog.read_versioned(spark, path).collect()
    }
    assert got == {1: ("a9", 9.0), 4: ("d", 4.0)}
    # version 0 still readable after the merge
    assert {
        r.id for r in txlog.read_versioned(spark, path, version=0).collect()
    } == {1, 2, 4}


def test_cdc_merge_returns_observed_metrics_and_batch_history(spark, lake):
    """cdc_merge_table returns rowsWritten observed by the merge's own
    write job (no second scan) for both the initial load and the merge
    path — the parquet analogue of Delta operationMetrics the per-batch
    history append records (reference cdc.py:224-247)."""
    from jibaro_spark.operators.cdc import cdc_merge_table

    ref = TableRef(str(Layer.CURATED), "lab", "inventory", "metrics_probe")

    def env(rows):
        return spark.createDataFrame(
            rows, "op string, id long, val string, ts long"
        ).select(
            F.struct("id").alias("key"),
            F.struct(
                F.col("op").alias("op"),
                F.lit(None).cast("struct<id:bigint,val:string>").alias("before"),
                F.struct("id", "val").alias("after"),
            ).alias("value"),
            F.col("ts").alias("timestamp"),
        )

    m = cdc_merge_table(
        spark, lake, env([("c", 1, "a", 1), ("c", 2, "b", 1)]), ref, key_cols=["id"]
    )
    assert m["operation"] == "INITIAL_LOAD" and m["rowsWritten"] == 2
    m2 = cdc_merge_table(spark, lake, env([("d", 2, "b", 2)]), ref, key_cols=["id"])
    assert m2["operation"] == "MERGE" and m2["rowsWritten"] == 1


def test_raw_to_staged_dead_letters_unknown_schema(spark, lake, registry):
    """r12: a corrupt frame whose id bytes decode to an UNREGISTERED
    schema id must not wedge the stream.  Default policy fails the
    micro-batch loudly; on_unknown_schema='keep' parks the frame —
    raw payloads, ids, Kafka metadata — in the {table}__dead_letter
    staged table while the resolvable pairs decode normally."""
    reg, kid, vid = registry
    rows = [
        change(kid, vid, "r", {"id": 1, "name": "a", "weight": 1.0}, offset=0),
        (
            frame(json.dumps({"id": 9}).encode(), kid),
            frame(b"corrupt-payload", 999),  # id 999 never registered
            "dbserver1.inventory.products",
            0,
            1,
            datetime.datetime(2026, 1, 1, 0, 0, 1),
            0,
        ),
    ]
    write_topic_dump(spark, lake, rows, "batch_dlq")
    src_dir = lake.settings.base_path + "/source_topic"
    stream = spark.readStream.schema(KAFKA_SCHEMA).parquet(src_dir)
    pl.source_to_raw(stream, lake, "lab", "inventory", "products")

    with pytest.raises(Exception, match="unknown schema id 999"):
        pl.raw_to_staged(
            spark, lake, "lab", "inventory", "products", reg, "json"
        )

    pl.raw_to_staged(
        spark, lake, "lab", "inventory", "products", reg, "json",
        on_unknown_schema="keep",
    )
    staged = spark.read.parquet(
        lake.path(TableRef(str(Layer.STAGED), "lab", "inventory", "products"))
    )
    assert [r["value"]["after"]["id"] for r in staged.collect()] == [1]
    dlq = spark.read.parquet(
        lake.path(
            TableRef(
                str(Layer.STAGED), "lab", "inventory",
                "products__dead_letter",
            )
        )
    )
    dead = dlq.collect()
    assert len(dead) == 1
    assert bytes(dead[0]["value"]) == b"corrupt-payload"
    assert dead[0]["valueSchemaId"] == 999
