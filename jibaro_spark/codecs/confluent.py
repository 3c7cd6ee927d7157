"""Confluent wire format + schema registry + schema-partitioned decode.

Wire format (reference ``jibaro/datalake/avro_handler.py:31-40``,
``protobuf_handler.py:49-58``, encode at ``kafka.py:86-109``)::

    [magic 0x00][4-byte big-endian schema id][payload]            (avro/json)
    [magic 0x00][4-byte schema id][message-index 0x00][payload]   (protobuf)

The reference jumps a hardcoded 7 bytes for protobuf ("I dunno but I
need to jump 7 bytes instead of 6", ``protobuf_handler.py:48``) — that
byte is the message-index varint for the first message in the schema
(single-message descriptors encode index list [0] as one 0x00 byte);
we name it properly and keep the single-message fast path.

All slicing/assembly is **native column expressions** — the reference's
Python UDF for the 4-byte int decode (``utils.py:182-184``) forces a
serialization round-trip per row; ``conv(hex(substring(...)))`` stays
in Tungsten codegen (SURVEY §2.9 U1 rebuild note).

Codec dispatch: :data:`CODECS` is the one table that knows the content
types.  One pair loop (:func:`decode_confluent_batch_pairs`) and one
publisher (:func:`encode_confluent`) run over it for every lane:

* ``json`` works on bare pyspark (``from_json`` / ``to_json``);
* ``avro`` / ``protobuf`` use ``from_avro`` / ``from_protobuf`` and
  require the spark-avro / spark-protobuf jars on the classpath —
  exactly the jars the reference's spark-submit loads
  (``Makefile:26-28``);
* ``avro-python`` / ``protobuf-python`` run the jar-free kernels of
  :mod:`~jibaro_spark.codecs.avro_python` /
  :mod:`~jibaro_spark.codecs.proto_python` (imported on first use).
"""

from __future__ import annotations

from typing import Any, Callable, Mapping, NamedTuple, Protocol

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MAGIC_BYTE = b"\x00"
#: payload start (1-based substring offsets): magic(1) + schema id(4)
_AVRO_PAYLOAD_START = 6
#: max bytes scanned for the protobuf message-index varint section
#: (count ≤ 2 varint bytes + up to a deeply-nested index list; 16 covers
#: any realistic descriptor — raise per-pipeline if a schema nests >6
#: levels of multi-byte indexes)
_PROTO_INDEX_MAX_SCAN = 16


# ---------------------------------------------------------------- wire format


def schema_id_of(col: Column | str) -> Column:
    """4-byte big-endian schema id following the magic byte, as int —
    native expr replacement for the reference's Python UDF
    (``utils.py:182-184``).  Null-safe: null/short payloads → null."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(F.length(c) >= 5, F.conv(F.hex(F.substring(c, 2, 4)), 16, 10).cast("int"))
    )


def _byte_at(c: Column, pos: Column) -> Column:
    """Unsigned value of the byte at 1-based ``pos`` (null past end)."""
    b = F.substring(c, pos, 1)
    return F.when(F.length(b) == 1, F.conv(F.hex(b), 16, 10).cast("int"))


def _proto_index_state(c: Column, max_scan: int = _PROTO_INDEX_MAX_SCAN) -> Column:
    """Native scan of the protobuf message-index varint section.

    Confluent's protobuf framing after the 4-byte schema id is a
    zigzag-varint LIST: first varint = count ``n``, then ``n`` zigzag
    varints (the path of message indexes inside the descriptor), with
    the special case that indexes ``[0]`` — the overwhelmingly common
    single-message schema — is written as the single byte ``0x00``
    (count 0 ⇒ indexes [0]).  The reference hardcodes that 1-byte jump
    ("I dunno but I need to jump 7 bytes", ``protobuf_handler.py:48-57``)
    and mis-slices any multi-message schema; SURVEY §7.4 asks for the
    real parse.

    Implemented as one ``aggregate`` fold over the first ``max_scan``
    bytes — a byte-at-a-time varint state machine in native expressions
    (no UDF, stays JVM-side).  Returns a struct column
    ``(phase, len, idxs)``: ``phase == 2`` ⇔ parse complete, ``len`` =
    bytes consumed by the index section, ``idxs`` = decoded index list.
    Truncated/malformed sections leave ``phase != 2`` (callers surface
    null, matching :func:`schema_id_of`'s null-safety).
    """
    bytes_arr = F.transform(
        F.sequence(F.lit(0), F.lit(max_scan - 1)),
        lambda i: _byte_at(c, F.lit(6) + i),
    )

    def mkstate(phase, rem, cur, mult, ln, idxs) -> Column:
        return F.named_struct(
            F.lit("phase"), phase.cast("int") if isinstance(phase, Column) else F.lit(phase),
            F.lit("rem"), rem.cast("int") if isinstance(rem, Column) else F.lit(rem),
            F.lit("cur"), cur.cast("long") if isinstance(cur, Column) else F.lit(cur).cast("long"),
            F.lit("mult"), mult.cast("long") if isinstance(mult, Column) else F.lit(mult).cast("long"),
            F.lit("len"), ln.cast("int") if isinstance(ln, Column) else F.lit(ln),
            F.lit("idxs"), idxs,
        )

    empty_idxs = F.array().cast("array<int>")
    init = mkstate(0, 0, 0, 1, 0, empty_idxs)

    def step(acc: Column, b: Column) -> Column:
        phase, rem = acc["phase"], acc["rem"]
        # base-128 accumulate; ``mult`` plays the role of 1 << shift
        # (shiftleft/shiftright take only literal ints in the API)
        cur2 = acc["cur"] + (b.bitwiseAND(F.lit(0x7F))).cast("long") * acc["mult"]
        on_cont = mkstate(
            phase, rem, cur2, acc["mult"] * 128, acc["len"] + 1, acc["idxs"]
        )
        # zigzag decode: (raw >> 1) ^ -(raw & 1); raw ≥ 0 so floor-div ≡ shift
        zz = F.floor(cur2 / 2).cast("long").bitwiseXOR(-cur2.bitwiseAND(F.lit(1)))
        count_zero = mkstate(2, 0, 0, 1, acc["len"] + 1, F.array(F.lit(0)))
        count_n = mkstate(1, zz, 0, 1, acc["len"] + 1, empty_idxs)
        idxs2 = F.concat(acc["idxs"], F.array(zz.cast("int")))
        idx_done = mkstate(
            F.when(rem <= 1, F.lit(2)).otherwise(F.lit(1)),
            rem - 1, 0, 1, acc["len"] + 1, idxs2,
        )
        terminal = F.when(
            phase == 0, F.when(zz == 0, count_zero).otherwise(count_n)
        ).otherwise(idx_done)
        return (
            F.when(phase >= 2, acc)  # done (or malformed): carry through
            .when(b.isNull(), mkstate(3, 0, 0, 1, acc["len"], acc["idxs"]))
            .when(b >= 128, on_cont)
            .otherwise(terminal)
        )

    return F.aggregate(bytes_arr, init, step)


def proto_message_indexes(
    col: Column | str, max_scan: int = _PROTO_INDEX_MAX_SCAN
) -> Column:
    """Decoded protobuf message-index list (``array<int>``) — ``[0]``
    for single-message schemas; null if truncated/malformed.  Feeds
    message dispatch for multi-message descriptors.

    ``max_scan`` bounds the byte-at-a-time fold; raise it for
    pathologically deep message paths (> ~8 multi-byte varint levels).
    Use :func:`proto_index_scan_truncated` to DISTINGUISH "null because
    the frame is malformed/short" from "null because max_scan was too
    small" — the latter is recoverable by re-running with a larger
    bound instead of silently losing rows (ADVICE r4)."""
    c = F.col(col) if isinstance(col, str) else col
    st = _proto_index_state(c, max_scan)
    return F.when(st["phase"] == 2, st["idxs"])


def proto_index_scan_truncated(
    col: Column | str, max_scan: int = _PROTO_INDEX_MAX_SCAN
) -> Column:
    """True iff the message-index parse was cut off by ``max_scan``
    while payload bytes remained (phase still mid-parse after the
    bounded fold) — i.e. the null from :func:`proto_message_indexes` /
    :func:`payload_of` is a scan-bound artifact, not a corrupt frame.
    Pipelines should route such rows to a wider-``max_scan`` retry
    rather than a quarantine sink.  Phase 3 (bytes genuinely ran out)
    stays False: that IS a malformed/short frame."""
    c = F.col(col) if isinstance(col, str) else col
    st = _proto_index_state(c, max_scan)
    return st["phase"].isin(0, 1) & (F.length(c) > F.lit(5 + max_scan))


def payload_of(
    col: Column | str,
    content_type: str = "avro",
    max_scan: int = _PROTO_INDEX_MAX_SCAN,
) -> Column:
    """Payload slice after the Confluent header.

    Uses ``length(col)`` for the slice bound — the reference sliced the
    key with ``length(value)`` (``avro_handler.py:35``), a defect that
    only works because Spark clamps substring lengths (SURVEY §2.13).

    For protobuf the payload starts after the message-index varint
    section, whose length is PARSED (:func:`_proto_index_state`), not
    assumed to be 1 byte — multi-message schemas slice correctly.
    """
    c = F.col(col) if isinstance(col, str) else col
    if content_type == "protobuf":
        st = _proto_index_state(c, max_scan)
        start = F.when(st["phase"] == 2, F.lit(6) + st["len"])
        return F.substring(c, start, F.length(c) - start + 1)
    start = F.lit(_AVRO_PAYLOAD_START)
    return F.substring(c, start, F.length(c) - start + 1)


def _zigzag_varint(n: int) -> bytes:
    """Kafka ByteUtils.writeVarint: zigzag then base-128 varint."""
    z = (n << 1) if n >= 0 else ((-n << 1) - 1)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def proto_index_bytes(message_indexes: list[int] | None) -> bytes:
    """Encode a protobuf message-index list per the Confluent framing
    (count varint + index varints; ``[0]`` compresses to ``0x00``)."""
    idxs = list(message_indexes) if message_indexes else [0]
    if idxs == [0]:
        return b"\x00"
    return _zigzag_varint(len(idxs)) + b"".join(_zigzag_varint(i) for i in idxs)


def wire_encode(
    payload: Column,
    schema_id: int,
    content_type: str = "avro",
    message_indexes: list[int] | None = None,
) -> Column:
    """Assemble Confluent wire format around an encoded payload
    (reference ``kafka.py:86-109``): magic ++ 4-byte id ++
    [message-index varints] ++ payload — all native ``concat`` on
    binary.  ``message_indexes`` (protobuf only) defaults to ``[0]``
    (first message in the descriptor)."""
    id_bytes = F.unhex(F.lpad(F.hex(F.lit(schema_id)), 8, "0"))
    parts = [F.lit(MAGIC_BYTE), id_bytes]
    if content_type == "protobuf":
        parts.append(F.lit(proto_index_bytes(message_indexes)))
    return F.concat(*parts, payload)


def split_wire_format(
    df: DataFrame,
    content_type: str = "avro",
    max_scan: int = _PROTO_INDEX_MAX_SCAN,
) -> DataFrame:
    """Add ``keySchemaId, valueSchemaId, keyPayload, valuePayload``
    columns from Kafka-shaped ``key``/``value`` binary columns
    (reference ``avro_handler.py:31-40``)."""
    return (
        df.withColumn("keySchemaId", schema_id_of("key"))
        .withColumn("valueSchemaId", schema_id_of("value"))
        .withColumn("keyPayload", payload_of("key", content_type, max_scan))
        .withColumn("valuePayload", payload_of("value", content_type, max_scan))
    )


# ------------------------------------------------------------------ registry


class SchemaRegistry(Protocol):
    """Interface of the reference's registry usage
    (``utils.py:170-179`` fetch; ``utils.py:43-54`` register)."""

    def get_schema(self, schema_id: int) -> str: ...

    def register(self, subject: str, schema: str, schema_type: str = "AVRO") -> int: ...


class InMemorySchemaRegistry:
    """Deterministic in-process registry for tests and single-driver
    pipelines (FIXTURES §2)."""

    def __init__(self) -> None:
        self._by_id: dict[int, str] = {}
        self._by_subject: dict[tuple[str, str], int] = {}
        self._next = 1

    def get_schema(self, schema_id: int) -> str:
        return self._by_id[schema_id]

    def register(self, subject: str, schema: str, schema_type: str = "AVRO") -> int:
        key = (subject, schema)
        if key in self._by_subject:
            return self._by_subject[key]
        sid = self._next
        self._next += 1
        self._by_id[sid] = schema
        self._by_subject[key] = sid
        return sid


class HttpSchemaRegistry:
    """Confluent Schema Registry over its REST API (stdlib urllib — the
    reference pulls in ``confluent_kafka.schema_registry`` +
    ``requests``; the two endpoints used need neither).

    Endpoints: ``GET /schemas/ids/{id}`` (reference ``utils.py:178-179``)
    and ``POST /subjects/{subject}/versions`` (``utils.py:43-54``).
    """

    def __init__(self, url: str) -> None:
        self.url = url.rstrip("/")

    def get_schema(self, schema_id: int) -> str:
        import json
        import urllib.request

        with urllib.request.urlopen(f"{self.url}/schemas/ids/{schema_id}") as r:
            return json.loads(r.read())["schema"]

    def register(self, subject: str, schema: str, schema_type: str = "AVRO") -> int:
        import json
        import urllib.request

        body = {"schema": schema}
        if schema_type != "AVRO":
            body["schemaType"] = schema_type
        req = urllib.request.Request(
            f"{self.url}/subjects/{subject}/versions",
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/vnd.schemaregistry.v1+json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            return json.loads(r.read())["id"]


# ----------------------------------------------------------------- decoders


def _decode_json(payload: Column, schema_str: str) -> Column:
    """JSON payload decode — ``schema_str`` may be a JSON Schema
    (draft-07, what a real registry stores under schemaType JSON), a
    Spark StructType JSON, or a Spark DDL string.  Always available
    (no extra jars)."""
    import json as _json

    from pyspark.sql import types as T

    schema: str | T.StructType = schema_str
    try:
        doc = _json.loads(schema_str)
    except (ValueError, TypeError):
        doc = None  # DDL string
    if isinstance(doc, dict):
        if doc.get("type") == "struct":
            schema = T.StructType.fromJson(doc)
        else:
            from jibaro_spark.codecs.schemas import json_schema_to_struct

            schema = json_schema_to_struct(doc)
    return F.from_json(payload.cast("string"), schema)


def _decode_avro(payload: Column, schema_str: str) -> Column:
    try:
        from pyspark.sql.avro.functions import from_avro
    except ImportError as e:  # pragma: no cover
        raise RuntimeError("pyspark avro module missing") from e
    return from_avro(payload, schema_str, {"mode": "FAILFAST"})


def _decode_protobuf(payload: Column, schema_str: str) -> Column:
    """``schema_str`` here is ``{descriptor_path}:{message_name}`` —
    the reference compiles registry .proto text with protoc and ships
    the descriptor via ``sc.addFile`` (``utils.py:125-167``)."""
    try:
        from pyspark.sql.protobuf.functions import from_protobuf
    except ImportError as e:  # pragma: no cover
        raise RuntimeError("pyspark protobuf module missing") from e
    desc_path, _, message = schema_str.rpartition(":")
    return from_protobuf(payload, message, descFilePath=desc_path)


def parse_json_quarantine(
    df: DataFrame,
    payload_col: str,
    schema_str: str,
    out_col: str = "value",
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON decode with bad-record routing ([ext] — the
    reference decodes FAILFAST only, ``avro_handler.py:25``, so one
    poison record aborts the whole micro-batch; at 100 TB a quarantine
    path is mandatory).

    Parses ``payload_col`` (binary or string) with
    ``mode=PERMISSIVE`` + ``columnNameOfCorruptRecord``; returns
    ``(good, quarantined)``: good rows carry the typed ``out_col``
    struct, quarantined rows carry the raw payload string in
    ``corrupt_col`` for replay after a schema fix.  Single pass, no
    Python UDFs; the split is two filters over one parsed projection.
    """
    from pyspark.sql import types as T

    import json as _json

    try:
        doc = _json.loads(schema_str)
    except (ValueError, TypeError):
        schema = T._parse_datatype_string(schema_str)
    else:
        if isinstance(doc, dict) and doc.get("type") == "struct":
            schema = T.StructType.fromJson(doc)
        else:
            from jibaro_spark.codecs.schemas import json_schema_to_struct

            schema = json_schema_to_struct(doc)
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    parsed = df.withColumn(
        "__parsed",
        F.from_json(
            F.col(payload_col).cast("string"),
            with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
        ),
    )
    bad_cond = F.col(f"__parsed.{corrupt_col}").isNotNull() | F.col("__parsed").isNull()
    good = (
        parsed.filter(~bad_cond)
        .withColumn(
            out_col,
            F.struct(*[F.col(f"__parsed.{f.name}") for f in schema.fields]),
        )
        .drop("__parsed")
    )
    quarantined = (
        parsed.filter(bad_cond)
        .withColumn(corrupt_col, F.col(payload_col).cast("string"))
        .drop("__parsed")
    )
    return good, quarantined


# -------------------------------------------------------------- codec table


class Codec(NamedTuple):
    """Everything the pair loop and the publisher need to know about
    one content type (one row of :data:`CODECS`)."""

    #: framing for :func:`split_wire_format` / :func:`wire_encode`:
    #: ``"avro"`` (magic + id) or ``"protobuf"`` (+ message indexes)
    wire: str
    #: ``(part, payload_col, reader_schema, out_col, role) -> part``
    #: with the decoded ``out_col`` added; ``role`` is key|value
    decode: Callable[[DataFrame, str, Any, str, str], DataFrame]
    #: registry text → the default reader schema
    reader_schema: Callable[[str], Any]
    #: ``(struct, name, topic) -> text`` registered for a published side
    schema_text: Callable[[Any, str, str], str]
    schema_type: str
    #: ``(df, struct_col, struct, schema_text, out_col, role) -> df``
    #: with the encoded binary ``out_col`` added; None: no encoder
    encode: Callable[[DataFrame, str, Any, str, str, str], DataFrame] | None


#: protobuf message and package names per role — descriptor naming
#: only, the wire carries field numbers
_PROTO_NAMES = {"key": ("Key", "jibarokey"), "value": ("Envelope", "jibaro")}


def _column_decoder(fn: Callable[[Column, str], Column]):
    def decode(part, payload_col, schema, out_col, _role):
        return part.withColumn(out_col, fn(F.col(payload_col), schema))

    return decode


def _decode_avro_python(part, payload_col, schema, out_col, _role):
    from jibaro_spark.codecs.avro_python import decode_avro_python

    return decode_avro_python(part, payload_col, schema, out_col)


def _decode_protobuf_python(part, payload_col, schema, out_col, role):
    from jibaro_spark.codecs.proto_python import decode_protobuf_python

    message, package = _PROTO_NAMES[role]
    return decode_protobuf_python(
        part, payload_col, schema, message, out_col, package
    )


def _encode_json(df, struct_col, _struct, _text, out_col, _role):
    return df.withColumn(out_col, F.to_json(F.col(struct_col)).cast("binary"))


def _encode_avro(df, struct_col, _struct, text, out_col, _role):
    from pyspark.sql.avro.functions import to_avro

    return df.withColumn(out_col, to_avro(F.col(struct_col), text))


def _encode_avro_python(df, struct_col, struct, _text, out_col, _role):
    from jibaro_spark.codecs.avro_python import encode_avro_python

    return encode_avro_python(df, struct_col, struct, out_col)


def _encode_protobuf_python(df, struct_col, struct, _text, out_col, role):
    from jibaro_spark.codecs.proto_python import encode_protobuf_python

    message, package = _PROTO_NAMES[role]
    return encode_protobuf_python(df, struct_col, struct, message, out_col, package)


def _registry_text(text: str) -> str:
    return text


def _avro_struct(text: str):
    from jibaro_spark.codecs.schemas import avro_schema_to_struct

    return avro_schema_to_struct(text)


def _proto_struct(text: str):
    from jibaro_spark.codecs.schemas import proto_schema_to_struct

    return proto_schema_to_struct(text)


def _json_schema_text(struct, name: str, topic: str) -> str:
    # real JSON Schema draft-07 (ADVICE r1) — what external registry
    # consumers expect; _decode_json accepts it alongside DDL/StructType
    from jibaro_spark.codecs.schemas import to_json_schema

    return to_json_schema(struct, title=f"{topic}.{name}")


def _avro_schema_text(struct, name: str, topic: str) -> str:
    from jibaro_spark.codecs.schemas import to_avro_schema

    return to_avro_schema(struct, name, namespace=topic)


def _proto_schema_text(struct, name: str, _topic: str) -> str:
    from jibaro_spark.codecs.schemas import to_proto_schema

    return to_proto_schema(struct, name)


#: content type → codec.  The jar lanes resolve reader schemas to the
#: registry text itself (for ``protobuf`` that is
#: ``{descriptor_path}:{message}``, so it needs a ``schema_resolver``);
#: the Python lanes parse it into the StructType their kernels read.
CODECS: Mapping[str, Codec] = {
    "json": Codec(
        "avro", _column_decoder(_decode_json), _registry_text,
        _json_schema_text, "JSON", _encode_json,
    ),
    "avro": Codec(
        "avro", _column_decoder(_decode_avro), _registry_text,
        _avro_schema_text, "AVRO", _encode_avro,
    ),
    "protobuf": Codec(
        "protobuf", _column_decoder(_decode_protobuf), _registry_text,
        _proto_schema_text, "PROTOBUF", None,
    ),
    "avro-python": Codec(
        "avro", _decode_avro_python, _avro_struct,
        _avro_schema_text, "AVRO", _encode_avro_python,
    ),
    "protobuf-python": Codec(
        "protobuf", _decode_protobuf_python, _proto_struct,
        _proto_schema_text, "PROTOBUF", _encode_protobuf_python,
    ),
}

KAFKA_META_COLS = ["topic", "partition", "offset", "timestamp", "timestampType"]

#: Above this many distinct schema pairs a caller-supplied scratch dir
#: switches :func:`pair_frames` to the staged (partition-pruned) route;
#: read at call time.
SPILL_THRESHOLD = 16

#: Scratch dirs :func:`pair_frames`' staged route has written and
#: :func:`release_scratch` has not yet removed.  Kept per process, not
#: returned: the route's frames read the dir lazily, so it must outlive
#: the call, and callers keep the list-of-frames interface.
_STAGED_SCRATCH: "set[str]" = set()


def pair_frames(
    sliced: DataFrame,
    on_tombstone: str = "drop",
    scratch_dir: "str | None" = None,
) -> "list[tuple[int | None, int | None, DataFrame]]":
    """Distinct ``(keySchemaId, valueSchemaId)`` pairs of a wire-sliced
    batch plus one frame per pair, in deterministic (None-safe) order —
    the loop skeleton of :func:`decode_confluent_batch_pairs`, called
    once per micro-batch for every codec.

    **Direct route** (the common few-schema batch): each frame is a
    ``filter`` over ``sliced``; a downstream action scans the whole
    batch per pair.  Fine for a handful of in-flight schema versions —
    O(pairs × batch) total scan.

    **Staged route** (``scratch_dir`` set AND pairs > SPILL_THRESHOLD —
    the schema-shape degeneracy fence, VERDICT r11 #2): ONE extra pass
    writes the sliced batch to ``scratch_dir`` partitioned by schema
    pair; each frame then reads ONLY its own partition directory, so
    total scan volume is O(batch) regardless of pair count — the
    difference between a 10k-distinct-schema-id batch decoding in two
    data passes and a 10k-fold job storm re-scanning the batch per id.
    The driver loop stays O(pairs) metadata work either way (the
    reference's loop shape, ``avro_handler.py:41-96``).  The route
    overwrites whatever a failed attempt left in ``scratch_dir``; once
    the frames are consumed, :func:`release_scratch` removes the copy.
    The direct route makes no file-system call.

    Tombstone pairs (null valueSchemaId) are routed BEFORE staging:
    ``drop`` filters them out of the scratch write entirely.
    """
    if on_tombstone not in ("drop", "keep", "error"):
        raise ValueError(
            f"on_tombstone must be drop|keep|error, got {on_tombstone!r}"
        )
    pairs = [
        (r.keySchemaId, r.valueSchemaId)
        for r in sliced.select("keySchemaId", "valueSchemaId").distinct().collect()
    ]
    pairs.sort(key=lambda p: (p[0] is None, p[1] is None, p[0] or 0, p[1] or 0))
    tombstones = [p for p in pairs if p[1] is None]
    if tombstones and on_tombstone == "error":
        raise ValueError(
            f"tombstone rows (null value) in batch for keySchemaId="
            f"{tombstones[0][0]}"
        )
    if on_tombstone == "drop":
        pairs = [p for p in pairs if p[1] is not None]

    def _direct(key_id, value_id):
        cond = (
            F.col("keySchemaId").isNull()
            if key_id is None
            else (F.col("keySchemaId") == key_id)
        ) & (
            F.col("valueSchemaId").isNull()
            if value_id is None
            else (F.col("valueSchemaId") == value_id)
        )
        return sliced.filter(cond)

    if scratch_dir is None or len(pairs) <= SPILL_THRESHOLD:
        return [(k, v, _direct(k, v)) for k, v in pairs]

    spark = sliced.sparkSession
    staged = sliced
    if on_tombstone == "drop" and tombstones:
        staged = staged.filter(F.col("valueSchemaId").isNotNull())
    # partition on COPIES (null ids → sentinel -1): partitionBy drops
    # the partition columns from the data files, so the originals
    # survive as data columns and each leaf-directory read comes back
    # with the full sliced schema
    (
        staged.withColumn(
            "__kid", F.coalesce(F.col("keySchemaId"), F.lit(-1))
        )
        .withColumn("__vid", F.coalesce(F.col("valueSchemaId"), F.lit(-1)))
        # cluster rows by pair before the dynamic-partition write: each
        # task then writes a bounded slice of the pair domain instead
        # of every task holding an open writer per in-flight pair (the
        # many-partitions writer amplification), and each pair lands in
        # one file per owning task
        .repartition(
            spark.sparkContext.defaultParallelism, "__kid", "__vid"
        )
        .write.mode("overwrite").partitionBy("__kid", "__vid")
        .parquet(scratch_dir)
    )
    _STAGED_SCRATCH.add(scratch_dir)

    # the leaf files hold exactly the sliced schema (partitionBy drops
    # only the __kid/__vid copies) — passing it explicitly skips the
    # per-leaf footer-inference job, which at 10k pairs is the
    # difference between O(pairs) cheap listings and 10k schema-read
    # jobs at construction
    leaf_schema = staged.drop("__kid", "__vid").schema

    def _staged(key_id, value_id):
        leaf = (
            f"{scratch_dir}/__kid={-1 if key_id is None else key_id}"
            f"/__vid={-1 if value_id is None else value_id}"
        )
        return spark.read.schema(leaf_schema).parquet(leaf)

    return [(k, v, _staged(k, v)) for k, v in pairs]


def release_scratch(spark: SparkSession, scratch_dir: str) -> None:
    """Remove the batch copy :func:`pair_frames`' staged route wrote to
    ``scratch_dir``; call it once the frames are consumed.  A no-op,
    with no file-system call, when the route did not run."""
    if scratch_dir not in _STAGED_SCRATCH:
        return
    from jibaro_spark.maintenance import _fs

    fs, p = _fs(spark, scratch_dir)
    fs.delete(p, True)
    _STAGED_SCRATCH.discard(scratch_dir)


def resolve_schema_or_policy(
    resolver: "Callable[[str, int], object]",
    role: str,
    schema_id: "int | None",
    pair: "tuple[int | None, int | None]",
    on_unknown_schema: str = "error",
) -> "tuple[object | None, bool]":
    """Resolve ``schema_id`` for ``role`` under the unknown-schema
    policy (r12 — a corrupt frame whose 4 plausible id bytes are not
    in the registry used to crash the WHOLE micro-batch with a bare
    ``KeyError`` at plan time; a wedged exactly-once stream replays
    that crash forever).  Returns ``(schema, quarantine)``:

    * ``"error"`` (default): unknown id raises a ``ValueError`` naming
      the role, id, and pair — loud and actionable, the right default
      for a transactional pipeline;
    * ``"keep"``: returns ``(None, True)`` — the caller emits the
      pair's frame with RAW binary payloads (the tombstone-keep
      shape) so a dead-letter sink can hold it for replay after the
      registry is fixed;
    * ``"skip"``: returns ``(None, False)`` with the pair dropped by
      the caller (compaction-marker semantics — use only when the
      corrupt frames are known noise).
    """
    if on_unknown_schema not in ("error", "keep", "skip"):
        raise ValueError(
            "on_unknown_schema must be error|keep|skip, got "
            f"{on_unknown_schema!r}"
        )
    if schema_id is None:
        return None, False
    try:
        return resolver(role, schema_id), False
    except Exception as ex:  # noqa: BLE001
        if on_unknown_schema == "error":
            raise ValueError(
                f"unknown schema id {schema_id} for role {role!r} in "
                f"schema pair {pair} — corrupt frame or unregistered "
                f"schema ({type(ex).__name__}: {ex}); pass "
                "on_unknown_schema='keep' to dead-letter the pair or "
                "'skip' to drop it"
            ) from ex
        return None, on_unknown_schema == "keep"


def decode_confluent_batch_pairs(
    batch: DataFrame,
    registry: SchemaRegistry,
    content_type: str = "json",
    schema_resolver: Callable[[str, int], Any] | None = None,
    on_tombstone: str = "drop",
    scratch_dir: "str | None" = None,
    on_unknown_schema: str = "error",
) -> list[tuple[tuple[int | None, int | None], DataFrame]]:
    """Schema-partitioned decode of one micro-batch (reference R7:
    ``avro_handler.py:41-96`` / ``protobuf_handler.py:59-133`` /
    ``cdc.py:151-176``) — the one pair loop for every codec in
    :data:`CODECS`.

    1. slice wire format → schema-id columns (native exprs)
    2. distinct (keySchemaId, valueSchemaId) pairs → collect — bounded
       by the number of in-flight schema versions, never by data size
       (:func:`pair_frames`; ``scratch_dir`` enables its staged route
       for many-schema batches)
    3. per pair: resolve the reader schemas (driver-side), decode the
       pair's frame with exactly those schemas

    ``schema_resolver(role, schema_id)`` supplies a reader schema per
    ``"key"``/``"value"`` id; by default it is the codec's reading of
    ``registry.get_schema(id)``.

    Returns ``((keySchemaId, valueSchemaId), decoded_frame)`` per pair
    — the ids are known from the distinct pass (re-deriving them with
    ``first()`` would cost a job per pair, the reference defect at
    ``protobuf_handler.py:89``, SURVEY §2.13).  Callers append each
    frame with ``mergeSchema`` (K2) or union them.

    Null sides are typed ``binary`` (void is not writable): a keyless
    topic's ``key`` (reference ``kafka.py:38-41``), and the ``value``
    of a Kafka tombstone (null value → null ``valueSchemaId``; Debezium
    emits one after every delete for log compaction).  ``on_tombstone``
    routes tombstones: ``"drop"`` (default — the preceding ``op='d'``
    event carries the delete), ``"keep"`` (callers must route them to a
    separate sink, a struct-decoded append cannot merge with a binary
    column), or ``"error"``.  ``on_unknown_schema`` routes pairs whose
    id cannot be resolved (:func:`resolve_schema_or_policy`): a kept
    pair's frame carries RAW binary ``key``/``value`` payloads for a
    dead-letter sink."""
    codec = CODECS[content_type]
    resolver = schema_resolver or (
        lambda _role, sid: codec.reader_schema(registry.get_schema(sid))
    )
    sliced = split_wire_format(batch, codec.wire)
    meta = [c for c in KAFKA_META_COLS if c in sliced.columns]
    keep = [*meta, "keySchemaId", "valueSchemaId"]
    out: list[tuple[tuple[int | None, int | None], DataFrame]] = []
    for key_id, value_id, part in pair_frames(sliced, on_tombstone, scratch_dir):
        pair = (key_id, value_id)
        kschema, kq = resolve_schema_or_policy(
            resolver, "key", key_id, pair, on_unknown_schema
        )
        vschema, vq = resolve_schema_or_policy(
            resolver, "value", value_id, pair, on_unknown_schema
        )
        if (key_id is not None and kschema is None) or (
            value_id is not None and vschema is None
        ):
            if kq or vq:  # keep: raw-binary dead-letter frame
                out.append(
                    (
                        pair,
                        part.select(
                            F.col("keyPayload").alias("key"),
                            F.col("valuePayload").alias("value"),
                            *keep,
                        ),
                    )
                )
            continue  # skip: drop the unresolvable pair
        # the raw binary key/value give way to the decoded columns
        part = part.drop("key", "value")
        for role, sid, schema in (("value", value_id, vschema), ("key", key_id, kschema)):
            if sid is None:
                part = part.withColumn(role, F.lit(None).cast("binary"))
            else:
                part = codec.decode(part, f"{role}Payload", schema, role, role)
        out.append((pair, part.select("key", "value", *keep)))
    return out


def encode_confluent(
    df: DataFrame,
    key_cols: list[str],
    registry: SchemaRegistry,
    topic: str,
    content_type: str = "json",
) -> DataFrame:
    """DataFrame → Kafka-shaped (key binary, value binary) in Confluent
    wire format (reverse path, reference ``kafka.py:22-119``) — the one
    publisher for every codec in :data:`CODECS` that has an encoder
    (all but the jar ``protobuf`` lane).

    Derives key/value schemas from the DataFrame schema, registers them
    under ``{topic}-key`` / ``{topic}-value`` (reference
    ``kafka.py:50-84``), encodes each side and assembles the wire
    format natively.  With no ``key_cols`` the key is null (keyless
    topic, ``kafka.py:38-41``).  Registry calls happen once on the
    driver; the encode is map-only.  The output decodes with
    :func:`decode_confluent_batch_pairs` and the default resolver.
    """
    codec = CODECS.get(content_type)
    if codec is None or codec.encode is None:
        raise ValueError(f"unsupported encode content_type {content_type!r}")
    value_cols = [c for c in df.columns if c not in key_cols]
    sides = [("value", "Envelope", value_cols)]
    if key_cols:
        sides.append(("key", "Key", key_cols))
    framed = df.select(*[F.struct(*cols).alias(f"__{role}") for role, _, cols in sides])
    wire = {"key": F.lit(None).cast("binary")}
    for role, name, cols in sides:
        struct = df.select(*cols).schema
        text = codec.schema_text(struct, name, topic)
        sid = registry.register(f"{topic}-{role}", text, codec.schema_type)
        framed = codec.encode(framed, f"__{role}", struct, text, f"__{role}_bin", role)
        wire[role] = wire_encode(F.col(f"__{role}_bin"), sid, codec.wire)
    return framed.select(wire["key"].alias("key"), wire["value"].alias("value"))
