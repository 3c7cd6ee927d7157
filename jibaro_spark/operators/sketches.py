"""Mergeable sketch operators ([ext] — the distributed-rollup family:
count-min frequency sketches whose partial sketches combine by
cell-wise sum, the property that lets 1000 executors (or 1000 daily
partitions) each sketch locally and a coordinator merge k bounded
artifacts instead of re-scanning 100 TB.  Sibling of the HLL/KMV
distinct sketches in :mod:`jibaro_spark.queries.sketches`.

Promoted out of the query modules (VERDICT r4 §Next-7) so the
sketch/merge/lookup pieces are reusable operators with the merge
consistency law — ``sketch(A ∪ B) == merge(sketch(A), sketch(B))`` —
pinned in tests/test_round5_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cms_cell(term_col: str, d: int, width: int, hash_mode: str):
    """Cell column index of hash row ``d`` for a term — deterministic
    and engine-independent.  ``xxhash64`` is the production mode;
    ``md5`` is the cross-engine-VERIFIABLE mode (same trick as
    ``minhash_signature_md5``): ``conv(substr(md5(d|term),1,8),16,10)``
    replays bit-identically in DuckDB via
    ``CAST('0x'||substr(md5(...),1,8) AS BIGINT)``, so the whole
    sketch→lookup pipeline gets a SQL oracle."""
    if hash_mode == "xxhash64":
        return F.pmod(F.xxhash64(F.col(term_col), F.lit(d)), F.lit(width))
    if hash_mode == "md5":
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{d}|"), F.col(term_col))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(width))
    raise ValueError(f"cms: unknown hash_mode {hash_mode!r}")


def cms_sketch(
    terms: DataFrame,
    term_col: str,
    depth: int = 4,
    width: int = 1024,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Count-min sketch of a term column: ``depth`` hash rows ×
    ``width`` counter columns, as a DataFrame ``(row, col, cnt)`` with
    at most depth×width rows REGARDLESS of input size.

    The d cell coordinates per term are ``pmod(xxhash64(term, d),
    width)`` — deterministic, engine-independent.  One explode (d rows
    per term, map-side) + one bounded groupBy; the result is
    materialized eagerly (``localCheckpoint``) because every consumer
    — the d lookup joins, a merge — would otherwise re-execute the
    corpus-sized explode per reference.
    """
    cells = (
        terms.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("row"),
                            _cms_cell(term_col, d, width, hash_mode).alias(
                                "col"
                            ),
                        )
                        for d in range(depth)
                    ]
                )
            ).alias("rc")
        )
        .groupBy("rc.row", "rc.col")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return cells.localCheckpoint(eager=True)


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the SAME (depth, width,
    hash) parameters: cell-wise sum.  ``merge(sketch(A), sketch(B)) ==
    sketch(A ∪ B)`` exactly (counter addition commutes) — the law that
    makes CMS a distributed/streaming-rollup citizen: per-partition or
    per-day sketches are tiny, merge cost is O(depth×width), and the
    merged sketch answers frequency queries over the union without
    touching the source data again."""
    if not sketches:
        raise ValueError("cms_merge: need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (
        out.groupBy("row", "col")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_lookup(
    sketch: DataFrame,
    terms: DataFrame,
    term_col: str,
    depth: int = 4,
    width: int = 1024,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Point-query the sketch for every row of ``terms``: join each
    term's d cells (sketch side broadcast — ≤ depth×width rows, a few
    MB) and take the row-wise minimum.  Returns ``(term, est)`` with
    the CMS guarantee est ≥ true count (one-sided error ≤ εN w.h.p.,
    ε = e/width)."""
    hashed = terms.select(
        F.col(term_col).alias("term"),
        *[
            _cms_cell(term_col, d, width, hash_mode).alias(f"__c{d}")
            for d in range(depth)
        ],
    )
    est = hashed
    for d in range(depth):
        cd = sketch.filter(F.col("row") == d).select(
            F.col("col").alias(f"__c{d}"), F.col("cnt").alias(f"__n{d}")
        )
        # left join + zero-coalesce: a term absent from the sketch's
        # cell has TRUE count 0 in the sketched data — est 0, not a
        # dropped row (inner join would silently lose it).
        est = est.join(F.broadcast(cd), f"__c{d}", "left")
    return est.select(
        "term",
        F.least(
            *[F.coalesce(F.col(f"__n{d}"), F.lit(0)) for d in range(depth)]
        ).alias("est"),
    )


def cms_estimates(
    terms: DataFrame,
    term_col: str,
    depth: int = 4,
    width: int = 1024,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Count-min estimates for every distinct term in ``terms`` —
    :func:`cms_sketch` + :func:`cms_lookup` over the distinct term set
    (the one-shot heavy-hitters shape used by q_cms_heavy_hitters)."""
    sketch = cms_sketch(terms, term_col, depth, width, hash_mode)
    return cms_lookup(
        sketch, terms.dropDuplicates([term_col]), term_col, depth, width,
        hash_mode,
    )
