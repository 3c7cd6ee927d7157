"""Round-21 declared queries — survey raking, in-engine PCA, and the
clustering-index pair that completes the evaluation wing.

* ``q_ipf_raking`` — iterative proportional fitting (raking) of the
  (mktsegment × nation) contingency table to uniform row/column
  margins: three full IPF iterations, every scaled weight rounded to
  10 and margin sums decimal-accumulated so both engines walk the
  identical weight sequence.
* ``q_pca_power_iteration`` — dominant principal component of the
  4 lineitem measures via three power-iteration steps over the
  correlation matrix assembled from ONE pass of exact decimal
  sufficient statistics (the distributed-PCA recipe: moments in the
  engine, 4×4 algebra on bounded rows); matrix-vector products are
  rounded-addend decimal sums (order-free).
* ``q_calinski_harabasz`` / ``q_davies_bouldin`` — the two classic
  internal clustering-validity indices over the market-segment
  clustering of exact-cents acctbal, joining q_silhouette_simplified:
  CH from SSB/SSW moment identities, DB from per-cluster scatters and
  pairwise centroid gaps (k² ≤ 25 rows).

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jibaro_spark.queries.registry import declare, load_tables

# ---------------------------------------------------------------------------
# IPF raking.  Uniform targets: t_row = N/#segments, t_col =
# N/#nations.  Per iteration: w ← round(w · t_row / rowsum(w), 10)
# then w ← round(w · t_col / colsum(w), 10); margin sums are
# decimal-accumulated (order-free), so the weight sequence is
# bit-identical in both engines.

_IPF_ITER_SQL = """
, r{i} AS (
  SELECT seg, CAST(SUM(CAST(w AS DECIMAL(28,10))) AS DOUBLE) AS rs
  FROM {src} GROUP BY seg
), w{i}a AS (
  SELECT c.seg, c.nat, c.n,
         ROUND(c.w * t.t_row / r.rs, 10) AS w
  FROM {src} c JOIN r{i} r USING (seg) CROSS JOIN tgt t
), c{i} AS (
  SELECT nat, CAST(SUM(CAST(w AS DECIMAL(28,10))) AS DOUBLE) AS cs
  FROM w{i}a GROUP BY nat
), w{i} AS (
  SELECT a.seg, a.nat, a.n,
         ROUND(a.w * t.t_col / c.cs, 10) AS w
  FROM w{i}a a JOIN c{i} c USING (nat) CROSS JOIN tgt t
)"""

QIPF_ORACLE = (
    """
WITH cells AS (
  SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY c_mktsegment, c_nationkey
), tgt AS (
  SELECT CAST(SUM(n) AS DOUBLE) / COUNT(DISTINCT seg) AS t_row,
         CAST(SUM(n) AS DOUBLE) / COUNT(DISTINCT nat) AS t_col
  FROM cells
), w0 AS (
  SELECT seg, nat, n, CAST(n AS DOUBLE) AS w FROM cells
)"""
    + _IPF_ITER_SQL.format(i=1, src="w0")
    + _IPF_ITER_SQL.format(i=2, src="w1")
    + _IPF_ITER_SQL.format(i=3, src="w2")
    + """
SELECT seg, nat, n, ROUND(w, 6) AS raked_w
FROM w3 ORDER BY seg, nat
"""
)


@declare(
    "q_ipf_raking",
    oracle=QIPF_ORACLE,
    description="Iterative proportional fitting (survey raking) of the segment × nation table to uniform margins: 3 IPF iterations, rounded weights + decimal margin sums keep both engines on the identical weight sequence (survey statistics [ext])",
)
def q_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    cells = cust.groupBy(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("long").alias("nat"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    cells = cells.localCheckpoint(eager=True)  # 3 iterations re-consume
    tgt = cells.agg(
        (F.sum("n").cast("double") / F.countDistinct("seg")).alias("t_row"),
        (F.sum("n").cast("double") / F.countDistinct("nat")).alias("t_col"),
    )
    w = cells.withColumn("w", F.col("n").cast("double"))
    for _ in range(3):
        rs = w.groupBy("seg").agg(
            F.sum(F.col("w").cast("decimal(28,10)")).cast("double").alias("rs")
        )
        w = (
            w.join(F.broadcast(rs), "seg")
            .crossJoin(F.broadcast(tgt))
            .select(
                "seg",
                "nat",
                "n",
                F.round(F.col("w") * F.col("t_row") / F.col("rs"), 10).alias("w"),
            )
        )
        cs = w.groupBy("nat").agg(
            F.sum(F.col("w").cast("decimal(28,10)")).cast("double").alias("cs")
        )
        w = (
            w.join(F.broadcast(cs), "nat")
            .crossJoin(F.broadcast(tgt))
            .select(
                "seg",
                "nat",
                "n",
                F.round(F.col("w") * F.col("t_col") / F.col("cs"), 10).alias("w"),
            )
        )
        # Pin each iteration's weights (r12, guide §3.3 "very large
        # plans"): w is consumed twice per half-step (margin sum +
        # rescale join), so the unpinned loop QUADRUPLED the plan per
        # iteration — 632 Exchange nodes over a ≤(segments × nations)-
        # row table, and the 2.9 s wall was scheduling/planning, not
        # data.  Lazy: the next margin sum's job materializes the
        # ≤125-row frame.
        w = w.localCheckpoint(eager=False)
    return w.select(
        "seg", "nat", "n", F.round("w", 6).alias("raked_w")
    ).orderBy("seg", "nat")


# ---------------------------------------------------------------------------
# PCA by power iteration.  Covariance of the 4 lineitem measures from
# one pass of exact decimal moments; three v ← C·v / ‖C·v‖ steps with
# rounded-addend decimal sums for both the matvec and the norm.

_PCA_STEP_SQL = """
, u{i} AS (
  SELECT cov.i AS i,
         CAST(SUM(CAST(ROUND(cov.c * v.v, 10) AS DECIMAL(38,12)))
              AS DOUBLE) AS u
  FROM cov JOIN v{p} v ON v.i = cov.j
  GROUP BY cov.i
), n{i} AS (
  SELECT sqrt(CAST(SUM(CAST(ROUND(u * u, 6) AS DECIMAL(38,8)))
              AS DOUBLE)) AS nrm
  FROM u{i}
), v{i} AS (
  SELECT u.i, u.u / n.nrm AS v FROM u{i} u CROSS JOIN n{i} n
)"""

def _corr_sql_cell(i: int, j: int) -> str:
    a, b = (i, j) if i <= j else (j, i)
    if i == j:
        return f"SELECT {i} AS i, {j} AS j, CAST(1.0 AS DOUBLE) AS c FROM mom"
    return (
        f"SELECT {i} AS i, {j} AS j, ROUND("
        f"(n * CAST(s{a}{b} AS DOUBLE) - CAST(s{a} AS DOUBLE) * CAST(s{b} AS DOUBLE))"
        f" / sqrt((n * CAST(s{a}{a} AS DOUBLE) - CAST(s{a} AS DOUBLE) * CAST(s{a} AS DOUBLE))"
        f" * (n * CAST(s{b}{b} AS DOUBLE) - CAST(s{b} AS DOUBLE) * CAST(s{b} AS DOUBLE))), 10) AS c"
        f" FROM mom"
    )


QPCA_ORACLE = (
    """
WITH m AS (
  SELECT CAST(l_quantity AS DECIMAL(19,4)) AS x1,
         CAST(l_extendedprice AS DECIMAL(19,4)) AS x2,
         CAST(l_discount AS DECIMAL(19,4)) AS x3,
         CAST(l_tax AS DECIMAL(19,4)) AS x4
  FROM lineitem
), mom AS (
  SELECT COUNT(*) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3, SUM(x4) AS s4,
         SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x1*x3) AS s13,
         SUM(x1*x4) AS s14, SUM(x2*x2) AS s22, SUM(x2*x3) AS s23,
         SUM(x2*x4) AS s24, SUM(x3*x3) AS s33, SUM(x3*x4) AS s34,
         SUM(x4*x4) AS s44
  FROM m
), cov AS (
"""
    + "\n  UNION ALL ".join(
        _corr_sql_cell(i, j) for i in range(1, 5) for j in range(1, 5)
    )
    + """
), v0 AS (
  SELECT i, CAST(0.5 AS DOUBLE) AS v FROM (VALUES (1), (2), (3), (4)) t(i)
)"""
    + _PCA_STEP_SQL.format(i=1, p=0)
    + _PCA_STEP_SQL.format(i=2, p=1)
    + _PCA_STEP_SQL.format(i=3, p=2)
    + """
SELECT CAST(v.i AS BIGINT) AS component,
       ROUND(v.v, 6) AS loading,
       ROUND(n.nrm, 6) AS eigenvalue_est
FROM v3 v CROSS JOIN n3 n
ORDER BY component
"""
)


@declare(
    "q_pca_power_iteration",
    oracle=QPCA_ORACLE,
    description="Dominant principal component of the 4 lineitem measures: correlation matrix from ONE pass of exact decimal moments, 3 power-iteration steps with rounded-addend decimal matvec/norm sums — distributed PCA via sufficient statistics (linear algebra [ext])",
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    xs = [
        F.col("l_quantity").cast("decimal(18,4)"),
        F.col("l_extendedprice").cast("decimal(18,4)"),
        F.col("l_discount").cast("decimal(18,4)"),
        F.col("l_tax").cast("decimal(18,4)"),
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(xs[i]).alias(f"s{i+1}") for i in range(4)]
    for i in range(4):
        for j in range(i, 4):
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"s{i+1}{j+1}"))
    # r12 (guide §2.5/§2.3): the fixture scan is one row group, so the
    # 15 decimal multiply-accumulates ran map-side on ONE core (probe:
    # 1.7 s unspread vs 1.1 s spread, warm).  Project to the four
    # measures, then a deterministic hash spread; decimal sums are
    # order-free exact, so placement cannot change the moments.
    from jibaro_spark.operators.util import ensure_parallelism

    li = ensure_parallelism(
        li.select("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        by="l_extendedprice",
    )
    mom = li.agg(*aggs).collect()[0]  # 15 scalars: the one data pass
    n = int(mom["n"])
    raw_rows = []
    for i in range(1, 5):
        for j in range(1, 5):
            a, b = (i, j) if i <= j else (j, i)
            raw_rows.append(
                (
                    i,
                    j,
                    float(mom[f"s{a}{b}"]),
                    float(mom[f"s{a}"]),
                    float(mom[f"s{b}"]),
                    float(mom[f"s{a}{a}"]),
                    float(mom[f"s{b}{b}"]),
                )
            )
    # the 4×4 algebra runs on bounded rows — driver-free, plan-literal.
    # CORRELATION, not covariance: corr is O(1), so the stabilizing
    # round(·, 10) stays far inside double precision (a 1e9-magnitude
    # covariance rounded at 1e-6 is ulp-noise the two engines resolve
    # differently — the sf0.01 lesson).  Rounding happens IN-ENGINE
    # (F.round ≡ DuckDB ROUND); Python's round() is banker's.
    spark_ = spark
    num = F.lit(n) * F.col("sab") - F.col("sa") * F.col("sb")
    den = F.sqrt(
        (F.lit(n) * F.col("saa") - F.col("sa") * F.col("sa"))
        * (F.lit(n) * F.col("sbb") - F.col("sb") * F.col("sb"))
    )
    cov = spark_.createDataFrame(
        raw_rows,
        "i int, j int, sab double, sa double, sb double, saa double, sbb double",
    ).select(
        "i",
        "j",
        F.when(F.col("i") == F.col("j"), F.lit(1.0))
        .otherwise(F.round(num / den, 10))
        .alias("c"),
    )
    v = spark_.createDataFrame([(i, 0.5) for i in range(1, 5)], "i int, v double")
    nrm_df = None
    for _ in range(3):
        u = (
            cov.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(
                F.sum(F.round(F.col("c") * F.col("v"), 10).cast("decimal(38,12)"))
                .cast("double")
                .alias("u")
            )
        )
        # Pin each step's matvec (r12, guide §3.3): u feeds both the
        # norm and the renormalized v, so the unpinned loop doubled
        # the plan per step (154 Exchange nodes over 4-row frames).
        # Lazy; 4 rows.
        u = u.localCheckpoint(eager=False)
        nrm_df = u.agg(
            F.sqrt(
                F.sum(
                    F.round(F.col("u") * F.col("u"), 6).cast("decimal(38,8)")
                ).cast("double")
            ).alias("nrm")
        )
        v = u.crossJoin(F.broadcast(nrm_df)).select(
            "i", (F.col("u") / F.col("nrm")).alias("v")
        )
    return (
        v.crossJoin(F.broadcast(nrm_df))
        .select(
            F.col("i").cast("long").alias("component"),
            F.round("v", 6).alias("loading"),
            F.round("nrm", 6).alias("eigenvalue_est"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# Calinski-Harabasz: (SSB/(k−1)) / (SSW/(n−k)) over the segment
# clustering of exact-cents acctbal, from one moment pass.

QCH_ORACLE = """
WITH pts AS (
  SELECT c_mktsegment AS seg,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
  FROM customer
), g AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS BIGINT) AS ss
  FROM pts GROUP BY seg
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(s AS HUGEINT)) AS BIGINT) AS st,
         CAST(SUM(CAST(ss AS HUGEINT)) AS BIGINT) AS sst,
         CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n, 6)
              AS DECIMAL(28,8))) AS DOUBLE) AS sq_over_n
  FROM g
)
SELECT k AS n_clusters, nn AS n_rows,
       ROUND((sq_over_n - CAST(st AS DOUBLE) * st / nn) / (k - 1)
             / ((CAST(sst AS DOUBLE) - sq_over_n) / (nn - k)), 6) AS ch_index
FROM tot
"""


@declare(
    "q_calinski_harabasz",
    oracle=QCH_ORACLE,
    description="Calinski-Harabasz clustering-validity index of the segment clustering over exact-cents acctbal — SSB/SSW moment identities from one pass (clustering eval [ext])",
)
def q_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    pts = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v"),
    )
    g = pts.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    sq_over_n = F.round(
        F.col("s").cast("double") * F.col("s") / F.col("n"), 6
    ).cast("decimal(28,8)")
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
        F.sum(sq_over_n).cast("double").alias("sq_over_n"),
    )
    return tot.select(
        F.col("k").alias("n_clusters"),
        F.col("nn").alias("n_rows"),
        F.round(
            (F.col("sq_over_n") - F.col("st").cast("double") * F.col("st") / F.col("nn"))
            / (F.col("k") - 1)
            / (
                (F.col("sst").cast("double") - F.col("sq_over_n"))
                / (F.col("nn") - F.col("k"))
            ),
            6,
        ).alias("ch_index"),
    )


# ---------------------------------------------------------------------------
# Davies-Bouldin: per-cluster scatter S_g = sqrt(SSW_g / n_g), pairwise
# ratio (S_i + S_j)/|m_i − m_j|, per-cluster worst ratio.  All the
# pairwise algebra runs on k² ≤ 25 moment rows.

QDB_ORACLE = """
WITH pts AS (
  SELECT c_mktsegment AS seg,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
  FROM customer
), g AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS BIGINT) AS ss
  FROM pts GROUP BY seg
), sc AS (
  SELECT seg, n, CAST(s AS DOUBLE) / n AS mu,
         sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n) AS scat
  FROM g
), ratios AS (
  SELECT a.seg, ROUND((a.scat + b.scat) / abs(a.mu - b.mu), 10) AS r
  FROM sc a JOIN sc b ON a.seg <> b.seg
)
SELECT s.seg, s.n, ROUND(s.scat, 6) AS scatter,
       ROUND(MAX(r.r), 6) AS worst_ratio
FROM sc s JOIN ratios r USING (seg)
GROUP BY s.seg, s.n, s.scat
ORDER BY s.seg
"""


@declare(
    "q_davies_bouldin",
    oracle=QDB_ORACLE,
    description="Davies-Bouldin per-cluster worst similarity ratios of the segment clustering (scatter + pairwise centroid gaps on k² moment rows) — the companion validity index to CH and silhouette (clustering eval [ext])",
)
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    pts = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v"),
    )
    g = pts.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    sc = g.select(
        "seg",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / F.col("n")
        ).alias("scat"),
    )
    sc = sc.localCheckpoint(eager=True)  # both pair sides + output share it
    b = sc.select(
        F.col("seg").alias("bseg"), F.col("mu").alias("bmu"), F.col("scat").alias("bscat")
    )
    ratios = (
        sc.join(F.broadcast(b), F.col("seg") != F.col("bseg"))
        .select(
            "seg",
            F.round(
                (F.col("scat") + F.col("bscat")) / F.abs(F.col("mu") - F.col("bmu")),
                10,
            ).alias("r"),
        )
        .groupBy("seg")
        .agg(F.max("r").alias("worst"))
    )
    return (
        sc.join(F.broadcast(ratios), "seg")
        .select(
            "seg",
            "n",
            F.round("scat", 6).alias("scatter"),
            F.round("worst", 6).alias("worst_ratio"),
        )
        .orderBy("seg")
    )
