"""Shared operator utilities."""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import reduce
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Iterable, schema: "StructType | str"
) -> DataFrame:
    """``rows`` (tuples, lists, dicts or ``Row``s, as
    ``createDataFrame`` takes them) as a ``LocalTableScan``: the frame
    for data the driver already holds.

    ``spark.createDataFrame(<list>)`` pickles the rows into a
    ``PythonRDD`` over ``defaultParallelism`` partitions, so every
    scan of it starts Python workers to unpickle them: a 3-row frame
    behind an ``orderBy`` took 0.66-0.90 s to execute that way on a
    4-core box, against 0.08-0.10 s as a local relation.  An Arrow
    table reaches the JVM as a ``LocalRelation`` instead: no job and
    no Python worker, at construction or at any later scan.

    Each row goes through the schema's own ``toInternal`` first, the
    conversion the list path applies, so values land as they would
    there: a naive ``datetime`` is read in the driver's local time
    zone and enters Arrow as UTC micros, dates as day numbers,
    ``float`` arrays rounded to 32 bits once.  ``schema`` is a
    ``StructType`` or a DDL string; there is no inference.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    cols = list(zip(*internal)) if internal else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    by: "str | list[str] | None" = None,
) -> DataFrame:
    """Repartition ONLY when the input is under-partitioned.

    Compute-heavy operators (minhash/simhash signatures, cosine
    verification) are bottlenecked by per-row expression cost, not I/O;
    a small parquet file arrives as 1 partition and would serialize the
    whole job onto one core.  At real scale the input already has ≥
    ``defaultParallelism`` partitions and this is a no-op — so the full
    shuffle only ever happens on small inputs where it is cheap.

    ``by``: optional column to hash-partition on instead of the default
    round-robin.  Round-robin is non-deterministic, which blocks BOTH
    cache-plan matching and ReusedExchange — operators that scan their
    input more than once (e.g. ``exact_quantiles_bucketed``) need a
    deterministic exchange or every pass repeats the scan+shuffle.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if by is not None:
            cols = [by] if isinstance(by, str) else list(by)
            return df.repartition(target, *[F.col(c) for c in cols])
        return df.repartition(target)
    return df


@dataclass(frozen=True)
class Route:
    """One probe-then-route decision and the counts behind it:
    ``plain`` iff ``max_group <= bound``.  ``hot`` holds the key rows
    of the groups over their bound when the probe was asked for them."""

    plain: bool
    max_group: int
    total: int
    bound: float
    hot: tuple = ()


def size_route(
    df: DataFrame,
    group_cols: "Sequence[str | Column]",
    *,
    max_abs: float,
    share: float,
    n_parts: int,
    per: "Sequence[str]" = (),
    hot_keys: bool = False,
) -> Route:
    """Group-size probe shared by every probe-then-route operator.

    Operators with a cheap plain form (one window, one equi-join) and
    a skew-safe form (chunked stitch, salt grid) pick a route from the
    size of the biggest group.  The route is plain when that group
    holds at most ``max_abs`` rows, or at most ``share`` of a fair
    partition (``share * total / n_parts``): a group under either
    bound costs one task no more than the skew-safe form's extra
    passes do.

    One keys-only aggregate with map-side partial counts, collected as
    one row per ``per`` value.  ``group_cols=()`` treats the whole
    frame as one group, so ``total`` is the row count and the probe
    runs the same jobs as ``df.count()``.  With ``per=``, max and
    total are taken per value of the ``per`` columns and the route is
    plain only when every value passes; the returned counts are those
    of the value furthest over (or closest to) its bound.

    ``hot_keys=True`` also fills ``Route.hot`` with the distinct
    ``group_cols`` rows of every group over its own ``per`` value's
    bound, in a second collect that only runs when the route is not
    plain.  It is bounded: each such group holds over ``share /
    n_parts`` of its value's rows, so there are fewer than ``n_parts /
    share`` of them per value.

    The probe executes ``df``'s subtree: callers that read the frame
    again afterwards pin it first.
    """
    counts = df.groupBy(*per, *group_cols).agg(F.count(F.lit(1)).alias("__c"))
    stats = (
        counts.groupBy(*per)
        .agg(F.max("__c").alias("mx"), F.sum("__c").alias("n"))
        .collect()
    )

    def route(mx: int, n: int) -> Route:
        bound = float(max(max_abs, share * n / n_parts))
        return Route(mx <= bound, mx, n, bound)

    routes = [(s, route(s["mx"] or 0, s["n"] or 0)) for s in stats]
    worst = max(
        (rt for _, rt in routes),
        key=lambda r: r.max_group - r.bound,
        default=route(0, 0),
    )
    if not hot_keys or worst.plain:
        return worst
    over = [
        reduce(
            lambda acc, p: acc & F.col(p).eqNullSafe(s[p]),
            per,
            F.col("__c") > rt.bound,
        )
        for s, rt in routes
        if not rt.plain
    ]
    hot = (
        counts.filter(reduce(lambda x, y: x | y, over))
        .select(*[c for c in counts.columns if c not in (*per, "__c")])
        .distinct()
        .collect()
    )
    return replace(worst, hot=tuple(hot))


def dense_exchange(df: DataFrame, *cols: str, n: int | None = None) -> DataFrame:
    """Explicit hash repartition on upcoming join/agg keys for stages
    whose CPU-per-byte is extreme (signature verifies, per-pair
    scoring).

    AQE's partition coalescing sizes post-shuffle stages by BYTES
    (``advisoryPartitionSizeInBytes`` with a 1 MiB floor), so a stage
    whose shuffle is kilobytes but whose per-row compute is heavy
    collapses to a handful of tasks (measured 5-6 tasks on 32 cores
    for the q-gram verify at sf0.1; guide §2.2/§2.5).  An EXPLICIT
    user repartition on the same keys plans the identical exchange the
    downstream join/aggregate would insert — zero extra data movement
    — but is user-specified, which AQE coalescing leaves alone, so the
    dense stage keeps full parallelism.

    ``n`` defaults to max(defaultParallelism, shuffle.partitions) — at
    real scale that matches or exceeds what the planner would use, so
    this never REDUCES parallelism.  Trade-off: the exchange also
    opts out of AQE skew-splitting for that join; use only where the
    key distribution is bounded by construction (df-ordered prefix
    grams, capped posting lists).
    """
    spark = df.sparkSession
    if n is None:
        n = max(
            spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        )
    return df.repartition(n, *[F.col(c) for c in cols])
