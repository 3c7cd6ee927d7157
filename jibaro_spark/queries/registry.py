"""Registry plumbing for declared queries.

Cross-engine determinism rules (Spark vs DuckDB value-hash):

* **Sums/averages of doubles are accumulated as DECIMAL** and cast to
  double at the end.  Floating-point addition is order-dependent and
  Spark's partial aggregation order differs from DuckDB's; decimal
  accumulation is exact, so both engines produce bit-identical doubles.
* **Averages** are computed as ``CAST(SUM(decimal) AS DOUBLE) / COUNT``
  in both engines (decimal division scales/rounds differently per
  engine; double division of identical operands is deterministic).
* **Every computed column is aliased identically** in the Spark and
  SQL forms (the driver sorts columns by name before hashing).
* **Ties are broken deterministically** (explicit tiebreaker columns in
  every ORDER BY / window used for ranking).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class DeclaredQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str


REGISTRY: dict[str, DeclaredQuery] = {}


def declare(name: str, oracle: str | None = None, description: str = ""):
    """Decorator registering a declared query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate declared query {name!r}")
        REGISTRY[name] = DeclaredQuery(name, fn, oracle, description)
        return fn

    return deco


def _file_stamp(path: str) -> tuple:
    """Size and ``mtime_ns`` of each data file under ``path`` (one
    file, or every file of a directory table); empty when nothing local
    is there (a remote URI)."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    return tuple((f, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)])


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load fixture parquet tables (TESTDATA.md layout).

    A file that has not changed since its last load reuses the schema
    inferred then, so a repeated load runs no Spark job (inference is
    one job per file).  The session keeps one schema per absolute
    path, with what it was inferred under: the size and ``mtime_ns``
    of every data file under the path, and the session's
    ``spark.sql.parquet.*`` and ``spark.sql.legacy.parquet.*`` confs.
    A rewritten file or a changed conf is inferred again.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS).  Spark ≤ 4.0
    maps it to long only under ``spark.sql.legacy.parquet.nanosAsLong``
    (set here, not only in the session builder, so the queries also run
    under the driver's own session), which we floor-convert to a
    microsecond timestamp; Spark 4.1+ ignores that legacy conf and
    reads nanos as TIMESTAMP_NTZ (truncated to micros), which we cast
    to TIMESTAMP under the UTC session timezone.  Both paths land on
    the same LTZ microsecond timestamps, matching DuckDB's
    ``CAST(ts AS TIMESTAMP)`` truncation of TIMESTAMP_NS.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # UTC so LTZ conversions (timestamp_micros below) are invariant to
    # the host session's timezone — the driver runs queries under ITS
    # session, not ours, and DuckDB is timezone-naive.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The driver runs queries under ITS session, possibly launched from
    # a cwd where Python workers cannot import jibaro_spark — ship the
    # package (idempotent, ~once per session) so pandas-UDF closures
    # (multimodal decode) resolve on workers regardless of driver cwd.
    from jibaro_spark.session import _ship_package

    _ship_package(spark)
    # the conf names come in one py4j call (``conf.getAll`` costs one
    # per entry)
    conf_names = spark.conf._jconf.getAllAsJava().keySet().toString()[1:-1].split(", ")
    confs = tuple(
        sorted(
            (k, spark.conf.get(k))
            for k in conf_names
            if k.startswith(("spark.sql.parquet.", "spark.sql.legacy.parquet."))
        )
    )
    schemas = getattr(spark, "_jibaro_schemas", None)
    if schemas is None:
        schemas = {}
        setattr(spark, "_jibaro_schemas", schemas)
    out: dict[str, DataFrame] = {}
    for n in names:
        path = f"{sf_dir}/{n}.parquet"
        full = os.path.abspath(path)
        key = (_file_stamp(full), confs)
        known = schemas.get(full)
        if key[0] and known and known[0] == key:
            df = spark.read.schema(known[1]).parquet(path)
        else:
            df = spark.read.parquet(path)
            if key[0]:
                schemas[full] = (key, df.schema)
        for fld in df.schema.fields:
            if n == "events" and fld.name == "ts":
                if fld.dataType.simpleString() == "bigint":
                    df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
                elif fld.dataType.simpleString() == "timestamp_ntz":
                    # NTZ wall-clock reinterpreted as UTC == the
                    # timestamp_micros() value of the nanosAsLong path
                    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        out[n] = df
    return out


def dsum(col, alias: str, scale: int = 4):
    """Exact decimal-accumulated sum of a double column, as double."""
    return (
        F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double").alias(alias)
    )


def davg(col, alias: str, scale: int = 4):
    """Deterministic average: exact decimal sum / count, double division."""
    return (
        F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double")
        / F.count(F.col(col))
    ).alias(alias)


# Shared by several query families: oracle-SQL fragments and the
# cross-engine decimal and md5 helpers.
#
# Normalized text in DuckDB SQL (mirrors textops.normalized_text; the
# 'g' flag matches Spark's replace-all semantics).
_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"


def _zipgrams(lst: str, k: int, joiner: str = "' '") -> str:
    """O(n) DuckDB word-``k``-gram fragment (bigval class, r11).

    The previous oracle idiom — ``list_transform(range(1, C + 1), i ->
    array_to_string(lst[i:i+{k-1}], ' '))`` with ``C = greatest(len - (k-1),
    1)`` — evaluates a list SLICE per position, which DuckDB executes in
    O(position) (measured: 99.6 s for one 50k-token list, quadratic), so
    the bigval fixture's 250k-token document turned every shingle oracle
    into hours of single-threaded scaffolding.  ``list_zip`` of the k
    shifted views is one O(k·n) pass (0.057 s on the same list) and is
    bit-identical: trailing positions zip NULL padding, which
    ``array_to_string`` skips — exactly the old form's end-clamped short
    grams — and the CASE reproduces the old form's single-NULL gram for
    NULL/empty token lists (``greatest(NULL, 1) = 1`` made the old range
    yield one NULL gram there).  Single-ELEMENT lambda access is O(1)
    (measured); only slices carried the quadratic cost.

    CALLER CONTRACT (ADVICE r11 #4): ``lst`` is interpolated TEXTUALLY
    into k shifted views plus the len()/CASE sites — pass a
    pre-materialized list COLUMN (bind tokenization in a ``tk``/
    ``toks`` CTE first, as the shingle call sites do), never a complex
    expression like ``_TOKS`` directly, or the tokenizer chain is
    inlined 5+ times and only DuckDB's CSE stands between you and
    re-tokenizing every document per shifted view.
    """
    shifted = ", ".join([lst] + [f"({lst})[{j}:]" for j in range(2, k + 1)])
    fields = ", ".join(f"x[{j}]" for j in range(1, k + 1))
    return (
        f"CASE WHEN {lst} IS NULL OR len({lst}) = 0 "
        f"THEN [CAST(NULL AS VARCHAR)] "
        f"ELSE list_transform(list_zip({shifted})"
        f"[1:greatest(len({lst}) - {k - 1}, 1)], "
        f"x -> array_to_string([{fields}], {joiner})) END"
    )


_DEC = "decimal(18,4)"


def _d(col: str):
    return F.col(col).cast(_DEC)


_REV_SQL = "CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))"


def _md5_mod(col, salt: str, n: int):
    """First-8-hex-digit md5 bucket — the repo's cross-engine hash
    (replays in DuckDB as CAST('0x'||substr(md5(...),1,8) AS BIGINT))."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}|"), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(n))


def _sql_md5_mod(expr: str, salt: str, n: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}|' || CAST({expr} AS VARCHAR)), 1, 8))"
        f" AS BIGINT) % {n}"
    )
