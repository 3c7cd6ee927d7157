"""Pure-Python Avro binary decode/encode for Confluent payloads ([ext]
— executes the reference's FLAGSHIP Avro staged hop
(``avro_handler.py:71-96``, the `make testavro` path) without the
spark-avro jar: Avro's binary encoding is fully specified publicly
(zigzag-varint ints, IEEE little-endian floats, length-prefixed
bytes/strings, schema-ordered records, block-encoded arrays/maps,
branch-indexed unions), so a reader/writer driven directly by the
Spark ``StructType`` is small and exactly verifiable against
hand-computed golden bytes.

Schema conventions MATCH :func:`jibaro_spark.codecs.schemas.
to_avro_schema` (what our publish path registers and what
Debezium/Confluent producers emit): a nullable Spark field is the
union ``["null", T]`` — branch 0 null, branch 1 value; nullable array
elements likewise.  The wire never carries field names — order and
nullability come from the schema, which is why the schema-id-
partitioned decode loop (R7) matters: each frame parses with exactly
its writer schema.

Like :mod:`jibaro_spark.codecs.proto_python`: slicing stays native,
the payload parse is an Arrow-batched ``mapInPandas`` map-only pass,
and the JVM ``from_avro`` dispatcher remains the production fast path
where the jar exists.  This module holds only the kernels; the
``avro-python`` row of :data:`jibaro_spark.codecs.confluent.CODECS`
runs them inside the shared pair loop and publisher.

Supported Spark types: string, binary, boolean, int/short, long,
float, double, arrays, string-keyed maps, nested structs.
"""

from __future__ import annotations

import struct as _struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_SUPPORTED_SCALARS = (
    T.StringType,
    T.BinaryType,
    T.BooleanType,
    T.IntegerType,
    T.ShortType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
)


def _check_supported(dt: T.DataType, path: str) -> None:
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            _check_supported(f.dataType, f"{path}.{f.name}")
    elif isinstance(dt, T.ArrayType):
        _check_supported(dt.elementType, f"{path}[]")
    elif isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise TypeError(f"avro_python: map keys must be string at {path}")
        _check_supported(dt.valueType, f"{path}{{}}")
    elif not isinstance(dt, _SUPPORTED_SCALARS):
        raise TypeError(f"avro_python: unsupported Spark type {dt} at {path}")


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes) -> None:
        self.buf, self.pos = buf, 0

    def long(self) -> int:
        shift, acc = 0, 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    def raw(self, n: int) -> bytes:
        # bounds-checked: a corrupt length varint (negative, or past
        # the end) must RAISE, not silently return a short slice —
        # python slicing would otherwise mask corruption as truncation
        if n < 0 or self.pos + n > len(self.buf):
            raise ValueError(
                f"avro frame truncated/corrupt: need {n} bytes at "
                f"offset {self.pos} of {len(self.buf)}"
            )
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


def _zigzag(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read(r: _Reader, dt: T.DataType, nullable: bool):
    if nullable:
        if r.long() == 0:  # union branch 0 = null
            return None
    if isinstance(dt, T.StructType):
        return {
            f.name: _read(r, f.dataType, f.nullable) for f in dt.fields
        }
    if isinstance(dt, T.ArrayType):
        out = []
        while True:
            count = r.long()
            if count == 0:
                return out
            if count < 0:  # block with byte-size prefix (spec-valid)
                r.long()
                count = -count
            for _ in range(count):
                out.append(_read(r, dt.elementType, dt.containsNull))
    if isinstance(dt, T.MapType):
        out = {}
        while True:
            count = r.long()
            if count == 0:
                return out
            if count < 0:
                r.long()
                count = -count
            for _ in range(count):
                k = r.raw(r.long()).decode("utf-8")
                out[k] = _read(r, dt.valueType, dt.valueContainsNull)
    if isinstance(dt, T.StringType):
        return r.raw(r.long()).decode("utf-8")
    if isinstance(dt, T.BinaryType):
        return bytes(r.raw(r.long()))
    if isinstance(dt, T.BooleanType):
        return r.raw(1) != b"\x00"
    if isinstance(dt, (T.IntegerType, T.ShortType, T.LongType)):
        return r.long()
    if isinstance(dt, T.FloatType):
        return _struct.unpack("<f", r.raw(4))[0]
    if isinstance(dt, T.DoubleType):
        return _struct.unpack("<d", r.raw(8))[0]
    raise TypeError(f"avro_python: unsupported type {dt}")


def _write(out: bytearray, v, dt: T.DataType, nullable: bool) -> None:
    # Arrow→pandas converts integer child arrays holding any null to
    # float64, so a null integer arrives as NaN, not None.  An integer
    # field can never legitimately hold NaN — normalize it back to the
    # null it encodes (float/double NaN is real data and passes through).
    if (
        isinstance(v, float)
        and v != v
        and isinstance(dt, (T.IntegerType, T.ShortType, T.LongType))
    ):
        v = None
    if nullable:
        if v is None:
            out += _zigzag(0)
            return
        out += _zigzag(1)
    elif v is None:
        raise ValueError(f"null in non-nullable Avro field of type {dt}")
    if isinstance(dt, T.StructType):
        get = v.get if isinstance(v, dict) else v.asDict().get
        for f in dt.fields:
            _write(out, get(f.name), f.dataType, f.nullable)
    elif isinstance(dt, T.ArrayType):
        if len(v):
            out += _zigzag(len(v))
            for item in v:
                _write(out, item, dt.elementType, dt.containsNull)
        out += _zigzag(0)
    elif isinstance(dt, T.MapType):
        items = list(v.items())
        if items:
            out += _zigzag(len(items))
            for k, val in items:
                kb = k.encode("utf-8")
                out += _zigzag(len(kb)) + kb
                _write(out, val, dt.valueType, dt.valueContainsNull)
        out += _zigzag(0)
    elif isinstance(dt, T.StringType):
        b = v.encode("utf-8")
        out += _zigzag(len(b)) + b
    elif isinstance(dt, T.BinaryType):
        out += _zigzag(len(v)) + bytes(v)
    elif isinstance(dt, T.BooleanType):
        out += b"\x01" if v else b"\x00"
    elif isinstance(dt, (T.IntegerType, T.ShortType, T.LongType)):
        out += _zigzag(int(v))
    elif isinstance(dt, T.FloatType):
        out += _struct.pack("<f", float(v))
    elif isinstance(dt, T.DoubleType):
        out += _struct.pack("<d", float(v))
    else:
        raise TypeError(f"avro_python: unsupported type {dt}")


def decode_avro_python(
    df: DataFrame,
    payload_col: str,
    schema: T.StructType,
    out_col: str = "value",
    mode: str = "failfast",
) -> DataFrame:
    """Parse an Avro-binary payload column (writer schema = the Avro
    derivation of ``schema``, per ``to_avro_schema`` conventions) into
    a typed struct column — Arrow-batched, map-only.

    ``mode``: ``failfast`` (default — a corrupt frame aborts the batch,
    the reference's FAILFAST stance, ``avro_handler.py:25``) or
    ``permissive`` — corrupt/truncated frames yield a null ``out_col``
    so a ``{out_col} IS NULL AND {payload_col} IS NOT NULL`` filter
    routes them to quarantine instead of poisoning 100 TB of good rows
    (the ``parse_json_quarantine`` philosophy)."""
    if mode not in ("failfast", "permissive"):
        raise ValueError(f"decode_avro_python: unknown mode {mode!r}")
    _check_supported(schema, "$")
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, schema)]
    )

    def mapper(batches):
        def parse(b):
            if b is None:
                return None
            # top-level record: fields in order (no outer union)
            rdr = _Reader(bytes(b))
            if mode == "failfast":
                return _read(rdr, schema, nullable=False)
            try:
                val = _read(rdr, schema, nullable=False)
            except Exception:
                return None
            # spec frames decode exactly; trailing garbage = corrupt
            return val if rdr.pos == len(rdr.buf) else None

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf[payload_col].map(parse)
            yield pdf

    return df.mapInPandas(mapper, out_schema)


def encode_avro_python(
    df: DataFrame,
    struct_col: str,
    schema: T.StructType,
    out_col: str = "payload",
) -> DataFrame:
    """Serialize a struct column to Avro binary — the reverse path
    (reference ``kafka.py:86-109`` uses ``to_avro``); compose with
    :func:`jibaro_spark.codecs.confluent.wire_encode`."""
    _check_supported(schema, "$")
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.BinaryType())]
    )

    def mapper(batches):
        def ser(v):
            if v is None:
                return None
            out = bytearray()
            _write(
                out,
                v if isinstance(v, dict) else v.asDict(recursive=True),
                schema,
                nullable=False,
            )
            return bytes(out)

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf[struct_col].map(ser)
            yield pdf

    return df.mapInPandas(mapper, out_schema)
