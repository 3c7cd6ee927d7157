"""The CDC hops' per-micro-batch work (fast core): the Spark jobs each
hop runs in steady state, the schema record a hop hands to the next
(``_schema.json``, ``jibaro_spark.io.update_schema_record``), the
zero-row leaf file a staged write can leave, and the manager that
writes the hops' checkpoint files.

Every batch is landed as one source file per Kafka partition, with an
unregistered value-schema id beside the registered pair, the way
``perfbench``'s ``cdc_steady`` lands them; the curated table is txlog."""

from __future__ import annotations

import datetime
import glob
import json
import os
import struct

import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql.types import StructType

from jibaro_spark import io as jio
from jibaro_spark import txlog
from jibaro_spark.catalog import Catalog, Layer, TableRef
from jibaro_spark.codecs.confluent import InMemorySchemaRegistry
from jibaro_spark.config import Settings
from jibaro_spark.operators.cdc import cdc_apply, initial_load
from jibaro_spark.session import SCALE_DEFAULTS, build_session
from jibaro_spark.streaming import pipeline as pl

KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)
VALUE_V1 = (
    "op STRING, before STRUCT<id INT, name STRING, weight DOUBLE>, "
    "after STRUCT<id INT, name STRING, weight DOUBLE>"
)
VALUE_V2 = (
    "op STRING, before STRUCT<id INT, name STRING, weight DOUBLE, color STRING>, "
    "after STRUCT<id INT, name STRING, weight DOUBLE, color STRING>"
)
UNKNOWN_ID = 999
P, D, T = "lab", "inventory", "products"
RAW = TableRef(str(Layer.RAW), P, D, T)
STAGED = TableRef(str(Layer.STAGED), P, D, T)
CURATED = TableRef(str(Layer.CURATED), P, D, T)


def _frame(payload: bytes, schema_id: int) -> bytes:
    return b"\x00" + struct.pack(">I", schema_id) + payload


@pytest.fixture()
def lake(tmp_path):
    return Catalog(Settings(protocol="file", base_path=str(tmp_path), use_txlog=True))


@pytest.fixture()
def reg():
    r = InMemorySchemaRegistry()
    return r, r.register("products-key", "id INT"), r.register("products-value", VALUE_V1)


class Topic:
    """A source topic on files: ``land`` writes one parquet file per
    Kafka partition, so each partition is one task of the raw write."""

    def __init__(self, spark, lake):
        self.spark, self.lake = spark, lake
        self.dir = os.path.join(lake.settings.base_path, "source_topic")
        self.offset = 0

    def change(self, kid, vid, op, row, partition):
        self.offset += 1
        env = {"op": op, "before": row if op == "d" else None,
               "after": None if op == "d" else row}
        ts = datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=self.offset)
        return (_frame(json.dumps({"id": row["id"]}).encode(), kid),
                _frame(json.dumps(env).encode(), vid),
                "dbserver1.inventory.products", partition, self.offset, ts, 0)

    def dead_letter(self, kid, partition, size=64):
        # an unregistered value id; ``size`` pads the payload, so the
        # file that holds it can be made the largest of the batch
        self.offset += 1
        ts = datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=self.offset)
        return (_frame(b'{"id": 0}', kid), _frame(os.urandom(size), UNKNOWN_ID),
                "dbserver1.inventory.products", partition, self.offset, ts, 0)

    def land(self, rows):
        by_part = {}
        for r in rows:
            by_part.setdefault(r[3], []).append(r)
        for part in sorted(by_part):
            (self.spark.createDataFrame(by_part[part], KAFKA_SCHEMA)
             .coalesce(1).write.mode("append").parquet(self.dir))

    def run_hops(self, registry, counts=None):
        spark, lake = self.spark, self.lake
        hops = (
            ("source_to_raw", lambda: pl.source_to_raw(
                spark.readStream.schema(KAFKA_SCHEMA).parquet(self.dir), lake, P, D, T)),
            ("raw_to_staged", lambda: pl.raw_to_staged(
                spark, lake, P, D, T, registry, "json", on_unknown_schema="keep")),
            ("staged_to_curated", lambda: pl.staged_to_curated(
                spark, lake, P, D, T, key_cols=["id"])),
        )
        for name, run in hops:
            before = _last_job_id(spark)
            run()
            if counts is not None:
                counts[name] = _last_job_id(spark) - before


def _last_job_id(spark) -> int:
    """The id of the newest job in Spark's status store (job ids are
    sequential), once the listener bus has delivered every event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def _curated_rows(spark, lake):
    df = txlog.read_versioned(spark, lake.path(CURATED))
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _inferred(spark, lake, ref) -> StructType:
    return spark.read.option("mergeSchema", "true").parquet(lake.path(ref)).schema


def _all_nullable(t) -> bool:
    if isinstance(t, StructType):
        return all(f.nullable and _all_nullable(f.dataType) for f in t.fields)
    return True


def test_steady_state_hop_jobs_and_fold(spark, lake, reg):
    """The second micro-batch runs at most 4 jobs in raw_to_staged
    (pair collect, one write per pair, no schema inference) and 4 in
    staged_to_curated (the MERGE, no inference, no emptiness probe),
    and the curated rows are the cdc_apply fold of the staged
    batches."""
    registry, kid, vid = reg
    topic = Topic(spark, lake)
    topic.land([
        topic.change(kid, vid, "r", {"id": i, "name": f"n{i}", "weight": float(i)}, i % 2)
        for i in range(6)
    ] + [topic.dead_letter(kid, 1)])
    topic.run_hops(registry)
    topic.land([
        topic.change(kid, vid, "u", {"id": 1, "name": "n1b", "weight": 1.5}, 0),
        topic.change(kid, vid, "d", {"id": 2, "name": "n2", "weight": 2.0}, 1),
        topic.change(kid, vid, "c", {"id": 7, "name": "n7", "weight": 7.0}, 0),
        topic.change(kid, vid, "u", {"id": 7, "name": "n7b", "weight": 7.5}, 1),
        topic.dead_letter(kid, 0),
    ])
    counts = {}
    topic.run_hops(registry, counts)
    assert counts["raw_to_staged"] <= 4, counts
    assert counts["staged_to_curated"] <= 4, counts

    staged = spark.read.parquet(lake.path(STAGED))
    b0, b1 = (staged.filter(staged["_batch_id"] == b).drop("_batch_id", "_schema_pair")
              for b in (0, 1))
    fold = cdc_apply(initial_load(b0, ["id"]), b1, ["id"])
    want = sorted(tuple(r) for r in fold.select(*sorted(fold.columns)).collect())
    got = _curated_rows(spark, lake)
    assert got == want
    assert {(r[0], r[1]) for r in got} == {
        (0, "n0"), (1, "n1b"), (3, "n3"), (4, "n4"), (5, "n5"), (7, "n7b")}


def test_schema_record_follows_evolution(spark, lake, reg):
    """A second value schema id adds a field mid-stream: each record
    equals the mergeSchema inference of its table, every field
    nullable, and the curated table carries the new column."""
    registry, kid, vid = reg
    vid2 = registry.register("products-value", VALUE_V2)
    topic = Topic(spark, lake)
    topic.land([topic.change(kid, vid, "r", {"id": 1, "name": "a", "weight": 1.0}, 0),
                topic.change(kid, vid, "r", {"id": 2, "name": "b", "weight": 2.0}, 1)])
    topic.run_hops(registry)
    topic.land([topic.change(kid, vid2, "u",
                             {"id": 2, "name": "b2", "weight": 2.5, "color": "red"}, 0),
                topic.change(kid, vid2, "c",
                             {"id": 3, "name": "c", "weight": 3.0, "color": "blue"}, 1)])
    topic.run_hops(registry)

    for ref in (RAW, STAGED):
        record = jio.read_schema_record(spark, lake, ref)
        schema = StructType.fromJson(record["schema"])
        assert schema == _inferred(spark, lake, ref)
        assert _all_nullable(schema)
    assert jio.read_schema_record(spark, lake, STAGED)["keys"] == sorted(
        [f"{kid}-{vid}", f"{kid}-{vid2}"])
    got = {r["id"]: (r["name"], r["color"]) for r in txlog.read_versioned(
        spark, lake.path(CURATED)).collect()}
    assert got == {1: ("a", None), 2: ("b2", "red"), 3: ("c", "blue")}


def test_table_without_record_infers_once(spark, lake, reg, monkeypatch):
    """Raw and staged tables written without a record (as before
    records existed) take the inference path once, then have a record;
    the next batch infers nothing."""
    registry, kid, vid = reg
    topic = Topic(spark, lake)
    topic.land([topic.change(kid, vid, "r", {"id": 1, "name": "a", "weight": 1.0}, 0)])
    topic.run_hops(registry)
    for ref in (RAW, STAGED):
        os.remove(os.path.join(lake.path(ref), jio.SCHEMA_RECORD))

    inferred = []
    infer = jio.infer_schema
    monkeypatch.setattr(jio, "infer_schema", lambda s, path, *a: inferred.append(path)
                        or infer(s, path, *a))
    # no new file: the curated hop reads the staged table by inference
    pl.staged_to_curated(spark, lake, P, D, T, key_cols=["id"])
    assert inferred == [lake.path(STAGED)]

    inferred.clear()
    topic.land([topic.change(kid, vid, "u", {"id": 1, "name": "a2", "weight": 1.5}, 0)])
    topic.run_hops(registry)
    assert sorted(inferred) == sorted([lake.path(RAW), lake.path(STAGED)])
    for ref in (RAW, STAGED):
        record = jio.read_schema_record(spark, lake, ref)
        assert StructType.fromJson(record["schema"]) == _inferred(spark, lake, ref)

    inferred.clear()
    topic.land([topic.change(kid, vid, "u", {"id": 1, "name": "a3", "weight": 1.7}, 0)])
    topic.run_hops(registry)
    assert inferred == []
    assert [r["name"] for r in txlog.read_versioned(spark, lake.path(CURATED)).collect()] == ["a3"]


def test_zero_row_leaf_file_commits_no_extra_merge(spark, lake, reg):
    """A staged leaf whose first write task holds none of the pair's
    rows keeps a zero-row file.  It rides in the micro-batch of its
    leaf's other files: one MERGE version and one history row per
    landed batch, and a hop call with no new file commits nothing."""
    registry, kid, vid = reg
    topic = Topic(spark, lake)
    path = lake.path(CURATED)
    for n, batch in enumerate([
        [{"id": 1, "name": "a", "weight": 1.0}, {"id": 2, "name": "b", "weight": 2.0}],
        [{"id": 2, "name": "b2", "weight": 2.5}, {"id": 3, "name": "c", "weight": 3.0}],
    ]):
        # the registered frames all sit in Kafka partition 1; partition
        # 0 holds one padded dead letter, so its file is the largest
        # and is read by the first task of the staged write
        topic.land([topic.change(kid, vid, "u", row, 1) for row in batch]
                   + [topic.dead_letter(kid, 0, size=20_000)])
        topic.run_hops(registry)
        leaf = glob.glob(f"{lake.path(STAGED)}/_batch_id={n}/_schema_pair={kid}-{vid}/*.parquet")
        rows = sorted(pq.ParquetFile(f).metadata.num_rows for f in leaf)
        assert rows == [0, 2], rows  # the case under test: a zero-row file
        assert txlog.latest_version(path) == n
        assert spark.read.parquet(lake.history_path(CURATED)).count() == n + 1

    assert [c["operation"] for c in txlog.history(path)] == ["MERGE", "INITIAL_LOAD"]
    pl.staged_to_curated(spark, lake, P, D, T, key_cols=["id"])
    assert txlog.latest_version(path) == 1
    assert spark.read.parquet(lake.history_path(CURATED)).count() == 2
    assert sorted(r["name"] for r in txlog.read_versioned(spark, path).collect()) == [
        "a", "b2", "c"]


MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(spark, path: str):
    """The manager Spark's streaming queries and file sinks build for
    ``path`` on this session."""
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager \
        .create(jvm.org.apache.hadoop.fs.Path(path), hadoop_conf)


def test_session_writes_checkpoints_through_filesystem(spark, lake):
    """The hops' checkpoint files go through the FileSystem manager,
    whose create-if-absent still refuses an existing file; a caller's
    own manager in ``extra_conf`` keeps Spark's choice."""
    fs_manager = SCALE_DEFAULTS[MANAGER_KEY]
    assert fs_manager.endswith(".FileSystemBasedCheckpointFileManager")
    ckpt = lake.checkpoint_path(STAGED)
    manager = _checkpoint_manager(spark, ckpt)
    assert manager.getClass().getName() == fs_manager

    jvm = spark._jvm
    os.makedirs(ckpt, exist_ok=True)
    target = os.path.join(ckpt, "0")

    def create(data: bytes) -> None:
        out = manager.createAtomic(jvm.org.apache.hadoop.fs.Path(target), False)
        out.write(data)
        out.close()

    create(b"first")
    with pytest.raises(Py4JJavaError) as err:
        create(b"second")
    exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(err.value.java_exception)
    with open(target, "rb") as f:
        assert f.read() == b"first"

    file_context = fs_manager.replace("FileSystemBased", "FileContextBased")
    try:
        session = build_session(app_name="jibaro_spark_tests", shuffle_partitions=8,
                                extra_conf={MANAGER_KEY: file_context})
        assert session is spark
        assert spark.conf.get(MANAGER_KEY) == file_context
        assert _checkpoint_manager(spark, ckpt).getClass().getName() == file_context
    finally:
        spark.conf.set(MANAGER_KEY, fs_manager)
    assert _checkpoint_manager(spark, ckpt).getClass().getName() == fs_manager
