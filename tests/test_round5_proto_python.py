"""Pure-Python protobuf codec (codecs/proto_python.py): golden-bytes
wire checks, typed round trips, and the protobuf staged hop executed
end-to-end — wire slice (native) → Arrow decode — without jar or
protoc."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jibaro_spark.codecs import proto_python as P

pytestmark = pytest.mark.skipif(
    not P.has_protobuf_runtime(), reason="no google.protobuf runtime found"
)

ENV_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField(
            "after",
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("name", T.StringType()),
                    T.StructField("weight", T.DoubleType()),
                ]
            ),
        ),
        T.StructField("tags", T.ArrayType(T.LongType())),
    ]
)


def test_golden_wire_bytes(spark):
    """The generated descriptor serializes a simple message to the
    hand-computed proto3 wire bytes: field 1 (varint) = 150 →
    b'\\x08\\x96\\x01'; field 2 (string 'ab') → b'\\x12\\x02ab'."""
    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [({"n": 150, "s": "ab"},)],
        T.StructType([T.StructField("v", schema)]),
    )
    out = P.encode_protobuf_python(df, "v", schema, "Tiny").collect()[0]
    assert bytes(out["payload"]) == b"\x08\x96\x01\x12\x02ab"
    # and hand-written bytes decode back
    raw = spark.createDataFrame(
        [(b"\x08\x96\x01\x12\x02ab",)], "payload binary"
    )
    dec = P.decode_protobuf_python(raw, "payload", schema, "Tiny").collect()[0]
    assert dec["value"]["n"] == 150 and dec["value"]["s"] == "ab"


def test_typed_round_trip(spark):
    rows = [
        ({"op": "c", "after": {"id": 1, "name": "a", "weight": 1.5},
          "tags": [1, 2, 3]},),
        ({"op": "d", "after": None, "tags": []},),
    ]
    df = spark.createDataFrame(
        rows, T.StructType([T.StructField("v", ENV_SCHEMA)])
    )
    enc = P.encode_protobuf_python(df, "v", ENV_SCHEMA)
    dec = P.decode_protobuf_python(
        enc.select("payload"), "payload", ENV_SCHEMA
    )
    got = [r["value"].asDict(recursive=True) for r in dec.collect()]
    got.sort(key=lambda d: d["op"])
    assert got[0]["op"] == "c"
    assert got[0]["after"] == {"id": 1, "name": "a", "weight": 1.5}
    assert got[0]["tags"] == [1, 2, 3]
    assert got[1]["op"] == "d"
    assert got[1]["after"] is None  # absent sub-message → null
    assert got[1]["tags"] == []


def test_confluent_protobuf_hop_end_to_end(spark):
    """The reference's raw→staged protobuf hop executed for real:
    Confluent frame (magic + schema id + message-index varint) built
    with wire_encode, sliced natively, payload parsed by the Python
    codec — no jar, no protoc."""
    from jibaro_spark.codecs.confluent import (
        payload_of,
        schema_id_of,
        wire_encode,
    )

    rows = [
        ({"op": "r", "after": {"id": i, "name": f"p{i}", "weight": i * 1.5},
          "tags": [i]},)
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, T.StructType([T.StructField("v", ENV_SCHEMA)])
    )
    framed = P.encode_protobuf_python(df, "v", ENV_SCHEMA).select(
        wire_encode(F.col("payload"), schema_id=7, content_type="protobuf")
        .alias("value")
    )
    sliced = framed.select(
        schema_id_of("value").alias("sid"),
        payload_of("value", "protobuf").alias("payload"),
    )
    decoded = P.decode_protobuf_python(sliced, "payload", ENV_SCHEMA)
    out = decoded.select("sid", "value.op", "value.after.*").collect()
    assert len(out) == 50
    assert all(r["sid"] == 7 and r["op"] == "r" for r in out)
    ids = sorted(r["id"] for r in out)
    assert ids == list(range(50))
    w = {r["id"]: r["weight"] for r in out}
    assert w[10] == 15.0


def test_unsupported_type_raises():
    bad = T.StructType([T.StructField("m", T.MapType(T.StringType(), T.LongType()))])
    with pytest.raises(TypeError, match="unsupported Spark type"):
        P.struct_to_file_descriptor_bytes(bad, "Bad")


def test_schema_partitioned_python_decode_mixed_versions(spark):
    """A batch mixing TWO value schema versions (v2 adds a field)
    decodes pair-partitioned — each frame with exactly its schema —
    the reference's R7 semantics on the Python codec."""
    from jibaro_spark.codecs.confluent import (
        decode_confluent_batch_pairs,
        wire_encode,
    )

    key_schema = T.StructType([T.StructField("id", T.LongType())])
    v1 = T.StructType([T.StructField("id", T.LongType()),
                       T.StructField("name", T.StringType())])
    v2 = T.StructType(list(v1.fields) + [T.StructField("score", T.DoubleType())])

    def framed(schema, sid, rows):
        df = spark.createDataFrame(
            [(r,) for r in rows], T.StructType([T.StructField("v", schema)])
        )
        enc = P.encode_protobuf_python(df, "v", schema)
        kdf = P.encode_protobuf_python(
            enc.withColumn(
                "kv", F.struct(F.col("v.id").alias("id"))
            ),
            "kv", key_schema, "Key", out_col="kpayload", package="jibarokey",
        )
        return kdf.select(
            wire_encode(F.col("kpayload"), 1, "protobuf").alias("key"),
            wire_encode(F.col("payload"), sid, "protobuf").alias("value"),
            F.lit("t").alias("topic"), F.lit(0).alias("partition"),
            F.lit(0).cast("long").alias("offset"),
            F.current_timestamp().alias("timestamp"),
            F.lit(0).alias("timestampType"),
        )

    batch = framed(v1, 10, [{"id": 1, "name": "a"}]).unionByName(
        framed(v2, 11, [{"id": 2, "name": "b", "score": 9.5}])
    )
    schemas = {("key", 1): key_schema, ("value", 10): v1, ("value", 11): v2}
    parts = decode_confluent_batch_pairs(
        batch, None, "protobuf-python",
        schema_resolver=lambda role, sid: schemas[(role, sid)],
    )
    assert [p for p, _ in parts] == [(1, 10), (1, 11)]
    d10 = parts[0][1].collect()[0]
    assert d10["key"]["id"] == 1 and d10["value"]["name"] == "a"
    d11 = parts[1][1].collect()[0]
    assert d11["value"]["score"] == 9.5 and d11["key"]["id"] == 2


def test_three_hop_pipeline_protobuf_python(spark, tmp_path):
    """The reference's `make testprotobuf` flow without broker, jar, or
    protoc: protobuf-framed topic dump → raw → staged (python codec,
    schema-partitioned) → curated CDC state."""
    import datetime

    from jibaro_spark.catalog import Catalog, Layer, TableRef
    from jibaro_spark.codecs.confluent import wire_encode
    from jibaro_spark.config import Settings
    from jibaro_spark.streaming import pipeline as pl

    lake = Catalog(Settings(protocol="file", base_path=str(tmp_path)))
    key_schema = T.StructType([T.StructField("id", T.LongType())])

    rows = [
        ("r", {"id": 1, "name": "a", "weight": 1.0}, 0),
        ("r", {"id": 2, "name": "b", "weight": 2.0}, 1),
        ("u", {"id": 1, "name": "a2", "weight": 1.5}, 2),
        ("d", None, 3),  # delete of id 2 via before image
    ]
    env_rows = []
    for op, after, off in rows:
        env_rows.append(
            (
                {
                    "op": op,
                    "after": after,
                    "tags": [],
                },
                {"id": after["id"] if after else 2},
                off,
            )
        )
    env_df = spark.createDataFrame(
        env_rows,
        T.StructType(
            [
                T.StructField("v", ENV_SCHEMA),
                T.StructField("k", key_schema),
                T.StructField("off", T.LongType()),
            ]
        ),
    )
    enc = P.encode_protobuf_python(env_df, "v", ENV_SCHEMA)
    enc = P.encode_protobuf_python(
        enc, "k", key_schema, "Key", out_col="kpayload", package="jibarokey"
    )
    topic = enc.select(
        wire_encode(F.col("kpayload"), 1, "protobuf").alias("key"),
        wire_encode(F.col("payload"), 9, "protobuf").alias("value"),
        F.lit("dbserver1.inventory.products").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("off").alias("offset"),
        (
            F.lit(datetime.datetime(2026, 1, 1))
            + F.make_dt_interval(secs=F.col("off"))
        ).alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    src_dir = lake.settings.base_path + "/source_topic"
    topic.coalesce(1).write.mode("append").parquet(src_dir)

    kafka_schema = (
        "key binary, value binary, topic string, partition int, offset long, "
        "timestamp timestamp, timestampType int"
    )
    schemas = {("key", 1): key_schema, ("value", 9): ENV_SCHEMA}
    stream = spark.readStream.schema(kafka_schema).parquet(src_dir)
    pl.source_to_raw(stream, lake, "lab", "inventory", "pbproducts")
    pl.raw_to_staged(
        spark, lake, "lab", "inventory", "pbproducts",
        registry=None,
        content_type="protobuf-python",
        schema_resolver=lambda role, sid: schemas[(role, sid)],
    )
    staged_ref = TableRef(str(Layer.STAGED), "lab", "inventory", "pbproducts")
    staged = spark.read.parquet(lake.path(staged_ref))
    assert staged.count() == 4
    assert staged.filter(F.col("valueSchemaId") == 9).count() == 4
    assert set(staged.select("value.op").toPandas()["op"]) == {"r", "u", "d"}

    pl.staged_to_curated(
        spark, lake, "lab", "inventory", "pbproducts", key_cols=["id"]
    )
    cur_ref = TableRef(str(Layer.CURATED), "lab", "inventory", "pbproducts")
    got = {
        r["id"]: (r["name"], r["weight"])
        for r in spark.read.parquet(lake.path(cur_ref)).collect()
    }
    assert got == {1: ("a2", 1.5)}  # id 2 deleted, id 1 updated


def test_permissive_mode_quarantines_corrupt_frames(spark):
    schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("s", T.StringType())]
    )
    rows = [
        (1, b"\x08\x96\x01\x12\x02ab"),  # valid
        (2, b"\x12\xff\xff\xff\xff"),     # declared length overruns buffer
        (3, None),                          # tombstone
    ]
    raw = spark.createDataFrame(rows, "i long, payload binary")
    dec = P.decode_protobuf_python(
        raw, "payload", schema, "Tiny", mode="permissive"
    )
    got = {r["i"]: r["value"] for r in dec.collect()}
    assert got[1]["n"] == 150 and got[1]["s"] == "ab"
    assert got[2] is None and got[3] is None
    with pytest.raises(Exception):
        P.decode_protobuf_python(raw, "payload", schema, "Tiny").collect()


def test_proto_schema_text_round_trip():
    """to_proto_schema → proto_schema_to_struct is the identity on the
    canonical subset (modulo documented widenings: short→int32→int)."""
    from jibaro_spark.codecs.schemas import proto_schema_to_struct, to_proto_schema

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField(
                "after",
                T.StructType(
                    [
                        T.StructField("id", T.LongType()),
                        T.StructField("name", T.StringType()),
                        T.StructField("weight", T.DoubleType()),
                    ]
                ),
            ),
            T.StructField("tags", T.ArrayType(T.LongType())),
            T.StructField("blob", T.BinaryType()),
            T.StructField("ok", T.BooleanType()),
        ]
    )
    text = to_proto_schema(schema, "Envelope")
    back = proto_schema_to_struct(text, "Envelope")
    assert [f.name for f in back.fields] == [f.name for f in schema.fields]
    assert back["after"].dataType == schema["after"].dataType
    assert back["tags"].dataType == schema["tags"].dataType
    assert isinstance(back["blob"].dataType, T.BinaryType)
    assert isinstance(back["ok"].dataType, T.BooleanType)


def test_publish_consume_loop_protobuf_python(spark, tmp_path):
    """The protobuf half of the jar-free reverse path (VERDICT r5 §Next-3;
    reference kafka.py:86-109 protobuf branch): publish_table encodes a
    curated table to Confluent protobuf frames — registering derived
    proto3 text as PROTOBUF subjects — and the consumer decodes them with
    reader schemas RESOLVED FROM THE REGISTRY via proto_schema_to_struct
    (the lane's default resolver)."""
    from jibaro_spark.catalog import Catalog, Layer, TableRef
    from jibaro_spark.codecs.confluent import (
        InMemorySchemaRegistry,
        decode_confluent_batch_pairs,
    )
    from jibaro_spark.config import Settings
    from jibaro_spark.streaming import pipeline as pl

    lake = Catalog(Settings(protocol="file", base_path=str(tmp_path)))
    ref = TableRef(str(Layer.CURATED), "lab", "inventory", "pub_products_pb")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, name string, weight double"
    ).write.parquet(lake.path(ref))

    reg = InMemorySchemaRegistry()
    framed = pl.publish_table(
        spark, lake, ref, key_cols=["id"], registry=reg,
        topic="products_pb", content_type="protobuf-python",
        sink=lambda df: None,
    )
    assert dict(framed.dtypes) == {"key": "binary", "value": "binary"}
    # registered schema text is proto3 — the registry holds what a real
    # Confluent PROTOBUF subject would
    first = framed.collect()[0]
    assert bytes(first["value"])[:1] == b"\x00"  # magic byte

    # default resolver: registry text → proto_schema_to_struct
    parts = decode_confluent_batch_pairs(
        framed.select(
            "key", "value", F.lit("products_pb").alias("topic"),
            F.lit(0).alias("partition"), F.lit(0).cast("long").alias("offset"),
            F.current_timestamp().alias("timestamp"),
            F.lit(0).alias("timestampType"),
        ),
        reg,
        "protobuf-python",
    )
    assert len(parts) == 1
    rows = {
        r["key"]["id"]: (r["value"]["name"], r["value"]["weight"])
        for r in parts[0][1].collect()
    }
    assert rows == {1: ("a", 1.0), 2: ("b", 2.0)}
