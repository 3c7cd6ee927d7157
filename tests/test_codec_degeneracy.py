"""Codec-plane degeneracy guards (r12, schema-shape class follow-up):
a 100 TB Kafka stream WILL contain corrupt frames whose 4 id bytes
decode to a plausible-but-unregistered schema id.  The decode loop
used to crash the whole micro-batch with a bare ``KeyError`` at plan
time — a wedged exactly-once stream replays that crash forever.  The
``on_unknown_schema`` policy (error|keep|skip) routes such pairs:
loud actionable error by default, raw-binary dead-letter frame under
``keep``, dropped under ``skip`` — uniformly across all three decode
lanes.  Also pins the invalid-UTF-8-payload contract for a REGISTERED
id (PERMISSIVE null struct, never a crash; ``parse_json_quarantine``
is the lane that separates poison rows).
"""

from __future__ import annotations

import json

import pytest

# battery class (r13 suite split — see pytest.ini): excluded from the
# default fast-core run the round driver's verify window executes
pytestmark = pytest.mark.slow
from pyspark.sql import types as T

from jibaro_spark.codecs.confluent import (
    InMemorySchemaRegistry,
    decode_confluent_batch_pairs,
)


def _frame(schema_id: int, payload: bytes) -> bytes:
    return b"\x00" + schema_id.to_bytes(4, "big") + payload


def _kafka(spark, rows):
    return spark.createDataFrame(
        [(k, v, "t", 0, i, None, 0) for i, (k, v) in enumerate(rows)],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int",
    )


@pytest.fixture()
def reg():
    r = InMemorySchemaRegistry()
    r.register("deg-value", "id int, v string")
    return r


def _mixed_batch(spark, reg):
    sid = reg.register("deg-value", "id int, v string")
    return _kafka(
        spark,
        [
            (None, _frame(sid, json.dumps({"id": 1, "v": "ok"}).encode())),
            (None, _frame(999, b"corrupt-frame-payload")),
        ],
    )


def test_unknown_schema_error_is_loud(spark, reg):
    batch = _mixed_batch(spark, reg)
    with pytest.raises(ValueError, match="unknown schema id 999.*value"):
        decode_confluent_batch_pairs(batch, reg, "json")


def test_unknown_schema_keep_dead_letters(spark, reg):
    batch = _mixed_batch(spark, reg)
    out = dict(
        decode_confluent_batch_pairs(
            batch, reg, "json", on_unknown_schema="keep"
        )
    )
    assert set(out) == {(None, 1), (None, 999)}
    good = out[(None, 1)].collect()
    assert good[0]["value"]["id"] == 1
    dead = out[(None, 999)].collect()
    # raw payload preserved for replay after the registry is fixed
    assert bytes(dead[0]["value"]) == b"corrupt-frame-payload"
    assert dead[0]["valueSchemaId"] == 999


def test_unknown_schema_skip_drops(spark, reg):
    batch = _mixed_batch(spark, reg)
    out = dict(
        decode_confluent_batch_pairs(
            batch, reg, "json", on_unknown_schema="skip"
        )
    )
    assert set(out) == {(None, 1)}


def test_unknown_schema_policy_validated(spark, reg):
    with pytest.raises(ValueError, match="error\\|keep\\|skip"):
        decode_confluent_batch_pairs(
            _mixed_batch(spark, reg), reg, "json",
            on_unknown_schema="explode",
        )


@pytest.mark.parametrize(
    "content_type, payload",
    [
        ("avro-python", b"garbage"),
        # protobuf framing carries a message-index varint (0x00 =
        # indexes [0]) between the id and the payload
        ("protobuf-python", b"\x00garbage"),
    ],
)
def test_unknown_schema_python_lanes(spark, content_type, payload):
    """Same policy on the jar-free Avro and protobuf lanes."""
    known = T.StructType([T.StructField("id", T.LongType(), True)])

    def resolver(role, sid):
        if sid == 7:
            return known
        raise KeyError(sid)

    batch = _kafka(spark, [(None, _frame(999, payload))])

    def decode(**kw):
        return decode_confluent_batch_pairs(
            batch, None, content_type, schema_resolver=resolver, **kw
        )

    with pytest.raises(ValueError, match="unknown schema id 999"):
        decode()
    kept = dict(decode(on_unknown_schema="keep"))
    assert bytes(kept[(None, 999)].collect()[0]["value"]) == b"garbage"
    assert dict(decode(on_unknown_schema="skip")) == {}


def test_invalid_utf8_payload_registered_id(spark, reg):
    """Garbage bytes under a VALID id: PERMISSIVE from_json yields a
    null struct (never a crash); parse_json_quarantine is the lane
    that captures such rows for replay."""
    sid = reg.register("deg-value", "id int, v string")
    batch = _kafka(
        spark,
        [
            (None, _frame(sid, json.dumps({"id": 5, "v": "fine"}).encode())),
            (None, _frame(sid, b"\xff\xfe not utf8 \x80")),
        ],
    )
    ((_, df),) = decode_confluent_batch_pairs(batch, reg, "json")
    rows = {r["offset"]: r["value"] for r in df.collect()}
    assert rows[0]["id"] == 5
    assert rows[1] is None or rows[1]["id"] is None  # null struct, no crash
