"""Pure-Python Avro binary codec (codecs/avro_python.py): golden bytes
computed by hand from the Avro spec, typed round trips with nullable
unions, and the reference's flagship Avro 3-hop pipeline executed
jar-free."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jibaro_spark.codecs import avro_python as A

ENV_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), nullable=False),
        T.StructField(
            "after",
            T.StructType(
                [
                    T.StructField("id", T.LongType(), nullable=False),
                    T.StructField("name", T.StringType()),
                    T.StructField("weight", T.DoubleType()),
                ]
            ),
            nullable=True,
        ),
        T.StructField("tags", T.ArrayType(T.LongType(), False), nullable=False),
    ]
)


def test_golden_avro_bytes(spark):
    """Hand-computed Avro binary: record {long a (non-null), string s
    (non-null)} with a=1, s='ab' → zigzag(1)=0x02 ++ len(2)=0x04 'ab'.
    A NULLABLE long b=None adds union branch 0 → 0x00; b=7 → branch 1
    (0x02) ++ zigzag(7)=0x0e."""
    s1 = T.StructType(
        [
            T.StructField("a", T.LongType(), nullable=False),
            T.StructField("s", T.StringType(), nullable=False),
        ]
    )
    df = spark.createDataFrame(
        [({"a": 1, "s": "ab"},)], T.StructType([T.StructField("v", s1)])
    )
    enc = A.encode_avro_python(df, "v", s1).collect()[0]
    assert bytes(enc["payload"]) == b"\x02\x04ab"

    s2 = T.StructType([T.StructField("b", T.LongType(), nullable=True)])
    df2 = spark.createDataFrame(
        [({"b": None},), ({"b": 7},)], T.StructType([T.StructField("v", s2)])
    )
    got = sorted(
        bytes(r["payload"]) for r in A.encode_avro_python(df2, "v", s2).collect()
    )
    assert got == [b"\x00", b"\x02\x0e"]
    # hand-written bytes decode back
    raw = spark.createDataFrame([(b"\x02\x04ab",)], "payload binary")
    dec = A.decode_avro_python(raw, "payload", s1).collect()[0]
    assert dec["value"]["a"] == 1 and dec["value"]["s"] == "ab"


def test_typed_round_trip_with_nulls_arrays_maps(spark):
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), nullable=False),
            T.StructField("f", T.FloatType(), nullable=True),
            T.StructField("d", T.DoubleType(), nullable=False),
            T.StructField("b", T.BooleanType(), nullable=False),
            T.StructField("raw", T.BinaryType(), nullable=True),
            T.StructField("xs", T.ArrayType(T.StringType(), True), nullable=False),
            T.StructField(
                "m", T.MapType(T.StringType(), T.LongType(), False), nullable=True
            ),
        ]
    )
    rows = [
        ({"i": -3, "f": 1.5, "d": 2.25, "b": True, "raw": b"\x00\xff",
          "xs": ["x", None, "z"], "m": {"k1": 10, "k2": -20}},),
        ({"i": 0, "f": None, "d": -0.5, "b": False, "raw": None,
          "xs": [], "m": None},),
    ]
    df = spark.createDataFrame(rows, T.StructType([T.StructField("v", schema)]))
    enc = A.encode_avro_python(df, "v", schema)
    dec = A.decode_avro_python(enc.select("payload"), "payload", schema)
    got = sorted(
        (r["value"].asDict(recursive=True) for r in dec.collect()),
        key=lambda d: d["i"],
    )
    assert got[0]["i"] == -3 and got[1]["i"] == 0
    assert got[1]["f"] is None and got[1]["raw"] is None and got[1]["m"] is None
    assert got[0]["xs"] == ["x", None, "z"] and got[1]["xs"] == []
    assert got[0]["m"] == {"k1": 10, "k2": -20}
    assert got[0]["raw"] == b"\x00\xff"
    assert abs(got[0]["f"] - 1.5) < 1e-6 and got[0]["d"] == 2.25


def test_three_hop_pipeline_avro_python(spark, tmp_path):
    """`make testavro` without broker or jar: Avro-framed topic dump →
    raw → staged (python codec, schema-partitioned) → curated CDC
    state."""
    import datetime

    from jibaro_spark.catalog import Catalog, Layer, TableRef
    from jibaro_spark.codecs.confluent import wire_encode
    from jibaro_spark.config import Settings
    from jibaro_spark.streaming import pipeline as pl

    lake = Catalog(Settings(protocol="file", base_path=str(tmp_path)))
    key_schema = T.StructType([T.StructField("id", T.LongType(), nullable=False)])

    env_rows = [
        ({"op": "r", "after": {"id": 1, "name": "a", "weight": 1.0}, "tags": []},
         {"id": 1}, 0),
        ({"op": "r", "after": {"id": 2, "name": "b", "weight": 2.0}, "tags": []},
         {"id": 2}, 1),
        ({"op": "u", "after": {"id": 1, "name": "a2", "weight": 1.5}, "tags": []},
         {"id": 1}, 2),
        ({"op": "d", "after": None, "tags": []}, {"id": 2}, 3),
    ]
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
    enc = A.encode_avro_python(env_df, "v", ENV_SCHEMA)
    enc = A.encode_avro_python(enc, "k", key_schema, out_col="kpayload")
    topic = enc.select(
        wire_encode(F.col("kpayload"), 1, "avro").alias("key"),
        wire_encode(F.col("payload"), 5, "avro").alias("value"),
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
    schemas = {("key", 1): key_schema, ("value", 5): ENV_SCHEMA}
    stream = spark.readStream.schema(kafka_schema).parquet(src_dir)
    pl.source_to_raw(stream, lake, "lab", "inventory", "avproducts")
    pl.raw_to_staged(
        spark, lake, "lab", "inventory", "avproducts",
        registry=None,
        content_type="avro-python",
        schema_resolver=lambda role, sid: schemas[(role, sid)],
    )
    staged_ref = TableRef(str(Layer.STAGED), "lab", "inventory", "avproducts")
    staged = spark.read.parquet(lake.path(staged_ref))
    assert staged.count() == 4
    assert staged.filter(F.col("valueSchemaId") == 5).count() == 4

    pl.staged_to_curated(
        spark, lake, "lab", "inventory", "avproducts", key_cols=["id"]
    )
    cur_ref = TableRef(str(Layer.CURATED), "lab", "inventory", "avproducts")
    got = {
        r["id"]: (r["name"], r["weight"])
        for r in spark.read.parquet(lake.path(cur_ref)).collect()
    }
    assert got == {1: ("a2", 1.5)}


def test_unsupported_type_raises(spark):
    bad = T.StructType([T.StructField("t", T.TimestampType())])
    df = spark.createDataFrame([], T.StructType([T.StructField("v", bad)]))
    with pytest.raises(TypeError, match="unsupported Spark type"):
        A.encode_avro_python(df, "v", bad)


def test_registry_schema_round_trip(spark):
    """StructType → Avro JSON (to_avro_schema, what the publish path
    registers) → StructType (avro_schema_to_struct, what the decode
    path resolves) is the identity on the supported surface — the
    full registry loop for the Python codec."""
    from jibaro_spark.codecs.schemas import avro_schema_to_struct, to_avro_schema

    back = avro_schema_to_struct(to_avro_schema(ENV_SCHEMA, "Envelope"))
    assert back == ENV_SCHEMA

    # and a registry-driven decode: the default resolver is fetch
    # text → avro_schema_to_struct
    from jibaro_spark.codecs.confluent import (
        InMemorySchemaRegistry,
        decode_confluent_batch_pairs,
        wire_encode,
    )

    reg = InMemorySchemaRegistry()
    sid = reg.register("products-value", to_avro_schema(ENV_SCHEMA, "Envelope"))
    df = spark.createDataFrame(
        [({"op": "c", "after": {"id": 3, "name": "n", "weight": 0.5},
           "tags": [9]},)],
        T.StructType([T.StructField("v", ENV_SCHEMA)]),
    )
    framed = A.encode_avro_python(df, "v", ENV_SCHEMA).select(
        F.lit(None).cast("binary").alias("key"),
        wire_encode(F.col("payload"), sid, "avro").alias("value"),
        F.lit("t").alias("topic"), F.lit(0).alias("partition"),
        F.lit(0).cast("long").alias("offset"),
        F.current_timestamp().alias("timestamp"), F.lit(0).alias("timestampType"),
    )
    parts = decode_confluent_batch_pairs(framed, reg, "avro-python")
    assert len(parts) == 1
    row = parts[0][1].collect()[0]
    assert row["value"]["after"]["id"] == 3
    assert row["value"]["tags"] == [9]


def test_publish_consume_loop_avro_python(spark, tmp_path):
    """The full reverse+forward loop jar-free: publish_table encodes a
    curated table to Confluent Avro frames (registering derived schemas),
    and the consumer decodes them with schemas RESOLVED FROM THE
    REGISTRY — reference curated2kafka_avro.py + raw2staged in one."""
    from jibaro_spark.catalog import Catalog, Layer, TableRef
    from jibaro_spark.codecs.confluent import (
        InMemorySchemaRegistry,
        decode_confluent_batch_pairs,
    )
    from jibaro_spark.config import Settings
    from jibaro_spark.streaming import pipeline as pl

    lake = Catalog(Settings(protocol="file", base_path=str(tmp_path)))
    ref = TableRef(str(Layer.CURATED), "lab", "inventory", "pub_products")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, name string, weight double"
    ).write.parquet(lake.path(ref))

    reg = InMemorySchemaRegistry()
    framed = pl.publish_table(
        spark, lake, ref, key_cols=["id"], registry=reg,
        topic="products", content_type="avro-python", sink=lambda df: None,
    )
    assert dict(framed.dtypes) == {"key": "binary", "value": "binary"}

    parts = decode_confluent_batch_pairs(
        framed.select(
            "key", "value", F.lit("products").alias("topic"),
            F.lit(0).alias("partition"), F.lit(0).cast("long").alias("offset"),
            F.current_timestamp().alias("timestamp"),
            F.lit(0).alias("timestampType"),
        ),
        reg,
        "avro-python",
    )
    assert len(parts) == 1
    rows = {
        r["key"]["id"]: (r["value"]["name"], r["value"]["weight"])
        for r in parts[0][1].collect()
    }
    assert rows == {1: ("a", 1.0), 2: ("b", 2.0)}


def test_permissive_mode_quarantines_corrupt_frames(spark):
    """Corrupt payloads yield null structs under mode='permissive'
    (routable to quarantine); failfast raises for the same input."""
    s1 = T.StructType(
        [
            T.StructField("a", T.LongType(), nullable=False),
            T.StructField("s", T.StringType(), nullable=False),
        ]
    )
    rows = [
        (1, b"\x02\x04ab"),            # valid
        (2, b"\x02\x7fab"),            # declared string length > buffer
        (3, b"\x02\x04abEXTRA"),       # trailing garbage
        (4, None),                      # tombstone
    ]
    raw = spark.createDataFrame(rows, "i long, payload binary")
    dec = A.decode_avro_python(raw, "payload", s1, mode="permissive")
    got = {r["i"]: r["value"] for r in dec.collect()}
    assert got[1]["a"] == 1 and got[1]["s"] == "ab"
    assert got[2] is None and got[3] is None and got[4] is None
    quarantined = dec.filter(
        F.col("value").isNull() & F.col("payload").isNotNull()
    ).count()
    assert quarantined == 2
    with pytest.raises(Exception):
        A.decode_avro_python(raw, "payload", s1).collect()
