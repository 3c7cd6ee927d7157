"""Unit tests for the Confluent codec layer (SURVEY §7.2 M3):
wire-format slice/assemble as native exprs, schema conversion,
registry, and the schema-partitioned decode loop (R7)."""

from __future__ import annotations

import json
import struct

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jibaro_spark.codecs import confluent as cc
from jibaro_spark.codecs import schemas as cs


def frame(payload: bytes, schema_id: int, content_type: str = "json") -> bytes:
    head = b"\x00" + struct.pack(">I", schema_id)
    if content_type == "protobuf":
        head += b"\x00"
    return head + payload


KAFKA_META = {"topic": "t", "partition": 0, "offset": 0, "timestampType": 0}


def kafka_row(key: bytes | None, value: bytes, offset: int = 0) -> Row:
    import datetime

    return Row(
        key=key,
        value=value,
        topic="dbserver1.inventory.products",
        partition=0,
        offset=offset,
        timestamp=datetime.datetime(2026, 1, 1, 0, 0, offset % 60),
        timestampType=0,
    )


KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def test_wire_roundtrip_native_exprs(spark):
    """encode → decode is the identity, end to end in native exprs."""
    payload = json.dumps({"id": 7}).encode()
    df = spark.createDataFrame([(payload,)], "p binary")
    framed = df.select(cc.wire_encode(F.col("p"), 1234, "avro").alias("v"))
    back = framed.select(
        cc.schema_id_of("v").alias("sid"),
        cc.payload_of("v", "avro").alias("payload"),
    ).collect()[0]
    assert back.sid == 1234
    assert bytes(back.payload) == payload


def test_wire_protobuf_offset(spark):
    """Protobuf frames carry the message-index byte: payload starts at
    byte 7 (reference hardcodes the jump, protobuf_handler.py:48)."""
    payload = b"\x08\x01"
    df = spark.createDataFrame([(frame(payload, 9, "protobuf"),)], "v binary")
    row = df.select(
        cc.schema_id_of("v").alias("sid"),
        cc.payload_of("v", "protobuf").alias("p"),
    ).collect()[0]
    assert row.sid == 9 and bytes(row.p) == payload


def test_wire_protobuf_multi_message_indexes(spark):
    """The message-index varint LIST is parsed, not assumed 1 byte
    (SURVEY §7.4; reference defect protobuf_handler.py:48-57): frames
    for a 2nd message ([1]), a nested path ([1, 2]), and a multi-byte
    zigzag varint index ([100]) all slice the payload correctly and
    expose the decoded index path."""
    payload = b"\x08\x2a"
    cases = [[0], [1], [1, 2], [100], [3, 200, 1]]
    rows_in = [
        (cc.proto_index_bytes(idx), idx) for idx in cases
    ]
    df = spark.createDataFrame(
        [(b"\x00" + (9).to_bytes(4, "big") + ib + payload, i) for (ib, _), i in zip(rows_in, range(len(cases)))],
        "v binary, i int",
    )
    got = (
        df.select(
            "i",
            cc.schema_id_of("v").alias("sid"),
            cc.proto_message_indexes("v").alias("idxs"),
            cc.payload_of("v", "protobuf").alias("p"),
        )
        .orderBy("i")
        .collect()
    )
    for row, want in zip(got, cases):
        assert row.sid == 9
        assert list(row.idxs) == want, (list(row.idxs), want)
        assert bytes(row.p) == payload


def test_wire_protobuf_encode_decode_roundtrip(spark):
    """wire_encode(message_indexes=...) → parse is the identity, and
    [0] still compresses to the single 0x00 byte (frame byte-compatible
    with the reference's single-message output)."""
    payload = b"\x0a\x03abc"
    df = spark.createDataFrame([(payload,)], "p binary")
    for idxs in ([0], [2], [5, 130]):
        framed = df.select(
            cc.wire_encode(F.col("p"), 77, "protobuf", message_indexes=idxs).alias("v")
        )
        row = framed.select(
            F.length("v").alias("n"),
            cc.proto_message_indexes("v").alias("idxs"),
            cc.payload_of("v", "protobuf").alias("pp"),
        ).collect()[0]
        assert list(row.idxs) == idxs
        assert bytes(row.pp) == payload
        assert row.n == 5 + len(cc.proto_index_bytes(idxs)) + len(payload)
    assert cc.proto_index_bytes([0]) == b"\x00"


def test_wire_protobuf_truncated_index_is_null(spark):
    """A frame truncated mid-varint (continuation bit set, no next
    byte) yields null indexes/payload instead of a mis-slice."""
    bad = b"\x00" + (9).to_bytes(4, "big") + b"\x84"  # count varint cut off
    df = spark.createDataFrame([(bad,)], "v binary")
    row = df.select(
        cc.proto_message_indexes("v").alias("idxs"),
        cc.payload_of("v", "protobuf").alias("p"),
    ).collect()[0]
    assert row.idxs is None and row.p is None


def test_schema_id_null_safe(spark):
    """Null and truncated frames produce null schema ids
    (reference cdc.py:167-176 relies on null ids for keyless topics)."""
    df = spark.createDataFrame(
        [(None,), (b"\x00\x00",), (frame(b"x", 3),)], "v binary"
    )
    ids = [r.sid for r in df.select(cc.schema_id_of("v").alias("sid")).collect()]
    assert ids == [None, None, 3]


def test_avro_schema_conversion():
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("weight", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField(
                "tags", T.ArrayType(T.StringType(), containsNull=False), True
            ),
            T.StructField(
                "nested",
                T.StructType([T.StructField("x", T.LongType(), True)]),
                True,
            ),
        ]
    )
    avro = json.loads(cs.to_avro_schema(schema, "Envelope", namespace="topic.v1"))
    assert avro["type"] == "record" and avro["namespace"] == "topic.v1"
    by_name = {f["name"]: f for f in avro["fields"]}
    assert by_name["id"]["type"] == "int"  # non-nullable: no union
    assert by_name["name"]["type"] == ["null", "string"]
    assert by_name["ts"]["type"][1] == {
        "type": "long",
        "logicalType": "timestamp-micros",
    }
    assert by_name["tags"]["type"][1] == {"type": "array", "items": "string"}
    assert by_name["nested"]["type"][1]["type"] == "record"


def test_proto_schema_conversion():
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("weight", T.DoubleType(), True),
            T.StructField("created", T.TimestampType(), True),
            T.StructField("blob", T.BinaryType(), True),
        ]
    )
    text = cs.to_proto_schema(schema, "Envelope")
    assert text.startswith('syntax = "proto3";')
    assert "int32 id = 1;" in text
    assert "string name = 2;" in text
    assert "double weight = 3;" in text
    assert "int64 created = 4;" in text  # Timestamp→int64 (utils.py:57-88)
    assert "bytes blob = 5;" in text


def test_registry_roundtrip():
    reg = cc.InMemorySchemaRegistry()
    a = reg.register("s-value", "schema-a")
    b = reg.register("s-value", "schema-b")
    assert reg.register("s-value", "schema-a") == a  # idempotent
    assert reg.get_schema(a) == "schema-a" and reg.get_schema(b) == "schema-b"


def test_schema_partitioned_decode(spark):
    """R7: a batch with two value schema versions plus a keyless record
    decodes into one typed DataFrame per (key,value) schema pair."""
    reg = cc.InMemorySchemaRegistry()
    key_id = reg.register("t-key", "id INT")
    v1 = reg.register("t-value", "op STRING, id INT")
    v2 = reg.register("t-value", "op STRING, id INT, extra STRING")

    rows = [
        kafka_row(
            frame(json.dumps({"id": 1}).encode(), key_id),
            frame(json.dumps({"op": "c", "id": 1}).encode(), v1),
            offset=0,
        ),
        kafka_row(
            frame(json.dumps({"id": 2}).encode(), key_id),
            frame(json.dumps({"op": "c", "id": 2, "extra": "e"}).encode(), v2),
            offset=1,
        ),
        kafka_row(
            None,
            frame(json.dumps({"op": "c", "id": 3}).encode(), v1),
            offset=2,
        ),
    ]
    batch = spark.createDataFrame(rows, KAFKA_SCHEMA)
    parts = [df for _, df in cc.decode_confluent_batch_pairs(batch, reg, "json")]
    assert len(parts) == 3  # (null,v1), (key,v1), (key,v2)
    by_ids = {
        (r.keySchemaId, r.valueSchemaId): r
        for p in parts
        for r in p.collect()
    }
    assert by_ids[(key_id, v1)].value.id == 1
    assert by_ids[(key_id, v2)].value.extra == "e"
    assert by_ids[(None, v1)].key is None
    assert by_ids[(key_id, v1)].key.id == 1
    # kafka metadata carried through (reference avro_handler.py:77-83)
    assert by_ids[(key_id, v1)].topic == "dbserver1.inventory.products"


#: lanes that run without the spark-avro / spark-protobuf jars
JAR_FREE_LANES = ["json", "avro-python", "protobuf-python"]


def _lane(content_type: str) -> None:
    if content_type == "protobuf-python":
        from jibaro_spark.codecs import proto_python as P

        if not P.has_protobuf_runtime():
            pytest.skip("no google.protobuf runtime found")


def _with_kafka_meta(framed, offset: int):
    import datetime

    return framed.select(
        "key", "value",
        F.lit("dbserver1.inventory.products").alias("topic"),
        F.lit(0).alias("partition"), F.lit(offset).cast("long").alias("offset"),
        F.lit(datetime.datetime(2026, 1, 1)).alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


@pytest.mark.parametrize("content_type", JAR_FREE_LANES)
def test_decode_tombstones(spark, content_type):
    """Kafka tombstones (null value, the Debezium post-delete
    compaction marker) must not crash the schema-pair sort or hit the
    registry with a null id (ADVICE r1 medium) — on every lane, with
    frames from the publisher and reader schemas from the default
    resolver."""
    _lane(content_type)
    reg = cc.InMemorySchemaRegistry()
    src = spark.createDataFrame([(1, "d")], "id long, op string")
    framed = cc.encode_confluent(src, ["id"], reg, "t", content_type)
    batch = _with_kafka_meta(framed, 0).unionByName(
        # tombstone: same key, null value
        _with_kafka_meta(
            framed.select("key", F.lit(None).cast("binary").alias("value")), 1
        )
    )
    ((key_id, v1),) = {
        (r.k, r.v)
        for r in framed.select(
            cc.schema_id_of("key").alias("k"), cc.schema_id_of("value").alias("v")
        ).collect()
    }

    # default: tombstones dropped, delete event decoded
    parts = cc.decode_confluent_batch_pairs(batch, reg, content_type)
    got = [r for _, p in parts for r in p.collect()]
    assert len(got) == 1 and got[0].value.op == "d"

    # keep: emitted with a null binary value, schema ids preserved
    parts = dict(
        cc.decode_confluent_batch_pairs(batch, reg, content_type, on_tombstone="keep")
    )
    assert set(parts) == {(key_id, v1), (key_id, None)}
    assert dict(parts[(key_id, None)].dtypes)["value"] == "binary"
    tomb = parts[(key_id, None)].collect()
    assert len(tomb) == 1 and tomb[0].value is None
    assert tomb[0].key.id == 1 and tomb[0].offset == 1
    assert parts[(key_id, v1)].collect()[0].value.op == "d"

    with pytest.raises(ValueError, match="tombstone"):
        cc.decode_confluent_batch_pairs(
            batch, reg, content_type, on_tombstone="error"
        )


def test_parse_json_quarantine(spark):
    """PERMISSIVE decode routes poison records to a quarantine frame
    instead of aborting the batch (FAILFAST, the reference's only
    mode) or silently nulling fields."""
    df = spark.createDataFrame(
        [
            (1, b'{"id": 1, "name": "ok"}'),
            (2, b'{"id": 2, "name": "also ok"}'),
            (3, b'{"id": broken'),          # malformed JSON
            (4, b"not json at all"),
        ],
        "offset int, payload binary",
    )
    good, bad = cc.parse_json_quarantine(df, "payload", "id INT, name STRING")
    got = {r.offset: (r.value.id, r.value.name) for r in good.collect()}
    assert got == {1: (1, "ok"), 2: (2, "also ok")}
    quarantined = {r.offset: r._corrupt_record for r in bad.collect()}
    assert set(quarantined) == {3, 4}
    assert quarantined[4] == "not json at all"  # raw payload kept for replay


def test_encode_confluent_roundtrip(spark):
    """Reverse path (kafka.py:22-119): frame a DataFrame, decode it
    back, recover the rows."""
    reg = cc.InMemorySchemaRegistry()
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id int, name string, weight double"
    )
    framed = cc.encode_confluent(df, ["id"], reg, "topic.products", "json")
    assert framed.columns == ["key", "value"]
    row = framed.orderBy(cc.schema_id_of("key")).collect()[0]
    assert bytes(row.key)[0] == 0  # magic byte
    key_id = cc.schema_id_of("key")
    val_id = cc.schema_id_of("value")
    ids = framed.select(key_id.alias("k"), val_id.alias("v")).distinct().collect()
    assert len(ids) == 1
    key_schema = reg.get_schema(ids[0].k)
    val_schema = reg.get_schema(ids[0].v)
    # registered documents are real JSON Schema draft-07 (registry-
    # compatible for external consumers), not Spark schema JSON
    import json

    vdoc = json.loads(val_schema)
    assert vdoc["$schema"] == "http://json-schema.org/draft-07/schema#"
    assert vdoc["type"] == "object"
    assert set(vdoc["properties"]) == {"name", "weight"}
    decoded = framed.select(
        cc._decode_json(cc.payload_of("key", "json"), key_schema).alias("k"),
        cc._decode_json(cc.payload_of("value", "json"), val_schema).alias("v"),
    ).collect()
    got = sorted((r.k.id, r.v.name, r.v.weight) for r in decoded)
    assert got == [(1, "a", 1.5), (2, "b", 2.5)]


@pytest.mark.parametrize("content_type", JAR_FREE_LANES)
def test_encode_keyless(spark, content_type):
    """A keyless topic publishes a null key and decodes back to a null
    key typed binary (the writable null type) on every lane."""
    _lane(content_type)
    reg = cc.InMemorySchemaRegistry()
    df = spark.createDataFrame([(1,)], "x int")
    framed = cc.encode_confluent(df, [], reg, "t", content_type)
    assert framed.collect()[0].key is None

    ((pair, decoded),) = cc.decode_confluent_batch_pairs(
        _with_kafka_meta(framed, 0), reg, content_type
    )
    assert pair[0] is None
    assert dict(decoded.dtypes)["key"] == "binary"
    row = decoded.collect()[0]
    assert row.key is None and row.value.x == 1


def test_http_schema_registry_round_trip():
    """R1-R3 over a real HTTP round-trip: a stdlib server emulating the
    two Confluent REST endpoints the engine uses (GET /schemas/ids/{id},
    POST /subjects/{s}/versions) — no confluent-kafka dependency."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from jibaro_spark.codecs.confluent import HttpSchemaRegistry

    store: dict[int, str] = {}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def do_GET(self):
            sid = int(self.path.rsplit("/", 1)[-1])
            if sid not in store:
                self.send_response(404)
                self.end_headers()
                return
            payload = json.dumps({"schema": store[sid]}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/vnd.schemaregistry.v1+json")
            self.end_headers()
            self.wfile.write(payload)

        def do_POST(self):
            assert self.path.startswith("/subjects/") and self.path.endswith("/versions")
            n = int(self.headers["Content-Length"])
            schema = json.loads(self.rfile.read(n))["schema"]
            sid = next(
                (k for k, v in store.items() if v == schema), len(store) + 1
            )
            store[sid] = schema
            self.send_response(200)
            self.end_headers()
            self.wfile.write(json.dumps({"id": sid}).encode())

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        reg = HttpSchemaRegistry(f"http://127.0.0.1:{srv.server_port}")
        schema = '{"type":"record","name":"r","fields":[{"name":"x","type":"int"}]}'
        sid = reg.register("topic-value", schema)
        assert reg.get_schema(sid) == schema
        # idempotent re-register returns the same id (registry contract)
        assert reg.register("topic-value", schema) == sid
        # JSON schemaType goes through the same endpoint
        sid2 = reg.register("t2-value", '{"type":"object"}', schema_type="JSON")
        assert sid2 != sid and reg.get_schema(sid2) == '{"type":"object"}'
    finally:
        srv.shutdown()
