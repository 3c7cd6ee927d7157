"""Round-6b declared queries — new operator families over the fixed
fixture tables, each hash-checked against a DuckDB oracle at sf0.01.

Families added here (none previously covered by the registry):

- **geo/spatial**: haversine distance, grid-cell aggregation, and the
  grid-blocked bounded-radius nearest join (``operators/geo.py``);
- **experimentation statistics**: Welch two-sample t-test, chi-square
  independence residuals, Benford first-digit screening;
- **feature engineering**: weight-of-evidence / information-value
  binning, exact rolling median;
- **sequential recurrences**: clamped running sum (inventory balance
  with floor+cap) and CUSUM change-point statistics via the
  ``applyInPandas`` recurrence operator (``operators/sequential.py``)
  — the oracles are DuckDB RECURSIVE CTEs, the first in the suite,
  replaying the exact per-key recurrence;
- **attribution**: multi-touch (linear / first / last) credit over a
  7-day lookback window;
- **recommender**: item-item cosine top-k from basket co-occurrence;
- **skyline**: 2-D Pareto frontier via distributed prefix maxima
  (``relational.skyline_2d``) with a brute-force NOT EXISTS oracle;
- **time series**: autocorrelation function by integer-day self-join,
  mutual-information cells.

Determinism rules (cross-engine hash contract): every aggregate that
feeds a float output is either an exact integer/decimal sum cast to
double once, or a single deterministic double expression evaluated
identically by both engines; no order-dependent double summation
anywhere.  Trig in the geo queries is written as the same expression
tree on both sides (ulp-level libm differences are absorbed by the
3-decimal rounding of displayed distances).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.registry import declare, load_tables

# ---------------------------------------------------------------------------
# Deterministic synthetic coordinates: integer congruential placement
# from the entity key (exact integer arithmetic, one exact division by
# 100), latitudes clamped to [-60, 60) so grid blocking is lossless
# with cos(60°) = 0.5 (operators/geo.min_cell_deg).
def _cust_coords(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "clat", ((F.col("c_custkey") * 37 % 12000) / F.lit(100.0)) - F.lit(60.0)
    ).withColumn(
        "clon", ((F.col("c_custkey") * 91 % 36000) / F.lit(100.0)) - F.lit(180.0)
    )


_CUST_COORDS_SQL = """
  SELECT c_custkey, c_acctbal,
         ((c_custkey * 37 % 12000) / 100.0) - 60.0 AS clat,
         ((c_custkey * 91 % 36000) / 100.0) - 180.0 AS clon
  FROM customer
"""


QGEO_CELLS_ORACLE = f"""
WITH pts AS ({_CUST_COORDS_SQL})
SELECT CAST(FLOOR(clon / 10.0) AS BIGINT) AS cell_x,
       CAST(FLOOR(clat / 10.0) AS BIGINT) AS cell_y,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4)
         AS avg_bal
FROM pts
GROUP BY 1, 2
ORDER BY cell_x, cell_y
"""


@declare(
    "q_geo_cell_stats",
    oracle=QGEO_CELLS_ORACLE,
    description="grid-cell spatial aggregation of synthetic customer coordinates — geo bucketing with exact-decimal balance averages (geo [ext])",
)
def q_geo_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.geo import grid_cell

    cust = _cust_coords(load_tables(spark, sf_dir, "customer")["customer"])
    cx, cy = grid_cell(F.col("clat"), F.col("clon"), 10.0)
    return (
        cust.withColumn("cell_x", cx)
        .withColumn("cell_y", cy)
        .groupBy("cell_x", "cell_y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_bal"),
        )
        .orderBy("cell_x", "cell_y")
    )


# ---------------------------------------------------------------------------
# Bounded-radius nearest-neighbor geo join: every customer's nearest
# supplier within 2000 km, grid-blocked (operators/geo.geo_radius_join
# — the 3x3-neighborhood equi-join, never a cross join).  The oracle
# IS the cross join (150k pairs at sf0.01 — fine for DuckDB, the exact
# thing the operator exists to avoid at scale), with the haversine
# formula written as the identical expression tree.
_HAVERSINE_SQL = (
    "12742.0 * ASIN(SQRT("
    "SIN(RADIANS(slat - clat) / 2) * SIN(RADIANS(slat - clat) / 2)"
    " + COS(RADIANS(clat)) * COS(RADIANS(slat))"
    " * SIN(RADIANS(slon - clon) / 2) * SIN(RADIANS(slon - clon) / 2)))"
)

QGEO_NEAREST_ORACLE = f"""
WITH c AS ({_CUST_COORDS_SQL}),
s AS (
  SELECT s_suppkey,
         ((s_suppkey * 67 % 12000) / 100.0) - 60.0 AS slat,
         ((s_suppkey * 149 % 36000) / 100.0) - 180.0 AS slon
  FROM supplier
), pairs AS (
  SELECT c.c_custkey, s.s_suppkey, {_HAVERSINE_SQL} AS dist_km
  FROM c CROSS JOIN s
), hits AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) AS rn,
         COUNT(*) OVER (PARTITION BY c_custkey) AS n_within
  FROM pairs WHERE dist_km <= 2000.0
)
SELECT c_custkey, s_suppkey AS nearest_suppkey,
       ROUND(dist_km, 3) AS dist_km, CAST(n_within AS BIGINT) AS n_within
FROM hits WHERE rn = 1
ORDER BY c_custkey
"""


@declare(
    "q_geo_radius_nearest",
    oracle=QGEO_NEAREST_ORACLE,
    description="nearest supplier within 2000 km per customer via grid-blocked haversine radius join — lossless 3x3 cell neighborhood, cross-join oracle (geo [ext])",
)
def q_geo_radius_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.geo import geo_radius_join

    t = load_tables(spark, sf_dir, "customer", "supplier")
    cust = _cust_coords(t["customer"]).select("c_custkey", "clat", "clon")
    supp = (
        t["supplier"]
        .withColumn(
            "slat", ((F.col("s_suppkey") * 67 % 12000) / F.lit(100.0)) - F.lit(60.0)
        )
        .withColumn(
            "slon", ((F.col("s_suppkey") * 149 % 36000) / F.lit(100.0)) - F.lit(180.0)
        )
        .select("s_suppkey", "slat", "slon")
    )
    pairs = geo_radius_join(
        cust,
        supp,
        radius_km=2000.0,
        left_coords=("clat", "clon"),
        right_coords=("slat", "slon"),
        max_abs_lat=60.0,
    )
    w = Window.partitionBy("c_custkey").orderBy("dist_km", "s_suppkey")
    wc = Window.partitionBy("c_custkey")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .withColumn("n_within", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("s_suppkey").alias("nearest_suppkey"),
            F.round("dist_km", 3).alias("dist_km"),
            "n_within",
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Welch two-sample t-test (unequal variances) on an A/B split of order
# values.  Group = o_orderkey parity (deterministic assignment).  All
# moments come from EXACT decimal sums (o_totalprice has 2 decimals →
# x² has 4 → Σ and Σx² are exact in DECIMAL(38,4)); the t statistic
# and Welch–Satterthwaite df are then single deterministic double
# expressions over those exact inputs — no engine-order-dependent
# float summation anywhere.
QWELCH_ORACLE = """
WITH g AS (
  SELECT o_orderkey % 2 AS grp,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
  FROM orders GROUP BY 1
), m AS (
  SELECT grp, n, sx / n AS mean, (sxx - sx * sx / n) / (n - 1) AS var
  FROM g
), ab AS (
  SELECT MAX(CASE WHEN grp = 0 THEN n END) AS na,
         MAX(CASE WHEN grp = 1 THEN n END) AS nb,
         MAX(CASE WHEN grp = 0 THEN mean END) AS ma,
         MAX(CASE WHEN grp = 1 THEN mean END) AS mb,
         MAX(CASE WHEN grp = 0 THEN var END) AS va,
         MAX(CASE WHEN grp = 1 THEN var END) AS vb
  FROM m
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(ma, 4) AS mean_a, ROUND(mb, 4) AS mean_b,
       ROUND((ma - mb) / SQRT(va / na + vb / nb), 6) AS t_stat,
       ROUND((va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)), 2) AS welch_df
FROM ab
"""


@declare(
    "q_ab_welch_ttest",
    oracle=QWELCH_ORACLE,
    description="Welch unequal-variance two-sample t-test over a deterministic A/B order split — exact-decimal moments, single-expression statistic (stats [ext])",
)
def q_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    g = (
        orders.groupBy((F.col("o_orderkey") % 2).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).cast("double").alias("sx"),
            F.sum(dec * dec).cast("double").alias("sxx"),
        )
        .select(
            "grp",
            "n",
            (F.col("sx") / F.col("n")).alias("mean"),
            ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("var"),
        )
    )
    ab = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == 0, F.col("mean"))).alias("ma"),
        F.max(F.when(F.col("grp") == 1, F.col("mean"))).alias("mb"),
        F.max(F.when(F.col("grp") == 0, F.col("var"))).alias("va"),
        F.max(F.when(F.col("grp") == 1, F.col("var"))).alias("vb"),
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    return ab.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("ma", 4).alias("mean_a"),
        F.round("mb", 4).alias("mean_b"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            se2
            * se2
            / (
                (F.col("va") / F.col("na")) * (F.col("va") / F.col("na")) / (F.col("na") - 1)
                + (F.col("vb") / F.col("nb")) * (F.col("vb") / F.col("nb")) / (F.col("nb") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test cells: o_orderpriority × o_orderstatus
# contingency table with expected counts and standardized (adjusted)
# residuals.  Everything derives from integer counts; each float
# output is one deterministic expression over them.
QCHISQ_ORACLE = """
WITH cells AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS status,
         COUNT(*) AS obs
  FROM orders GROUP BY 1, 2
), tot AS (
  SELECT c.priority, c.status, c.obs,
         SUM(c.obs) OVER (PARTITION BY c.priority) AS rt,
         SUM(c.obs) OVER (PARTITION BY c.status) AS ct,
         SUM(c.obs) OVER () AS n
  FROM cells c
)
SELECT priority, status, CAST(obs AS BIGINT) AS obs,
       ROUND(CAST(rt AS DOUBLE) * ct / n, 4) AS expected,
       ROUND((obs - CAST(rt AS DOUBLE) * ct / n)
             / SQRT(CAST(rt AS DOUBLE) * ct / n
                    * (1 - CAST(rt AS DOUBLE) / n)
                    * (1 - CAST(ct AS DOUBLE) / n)), 6) AS adj_residual
FROM tot
ORDER BY priority, status
"""


@declare(
    "q_chisq_residuals",
    oracle=QCHISQ_ORACLE,
    description="chi-square contingency cells with expected counts and adjusted residuals for priority × status — independence screening from pure integer counts (stats [ext])",
)
def q_chisq_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    wr = Window.partitionBy("priority")
    wc = Window.partitionBy("status")
    wn = Window.partitionBy()
    t = (
        cells.withColumn("rt", F.sum("obs").over(wr))
        .withColumn("ct", F.sum("obs").over(wc))
        .withColumn("n", F.sum("obs").over(wn))
    )
    exp = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    return t.select(
        "priority",
        "status",
        F.col("obs").cast("long").alias("obs"),
        F.round(exp, 4).alias("expected"),
        F.round(
            (F.col("obs") - exp)
            / F.sqrt(
                exp
                * (1 - F.col("rt").cast("double") / F.col("n"))
                * (1 - F.col("ct").cast("double") / F.col("n"))
            ),
            6,
        ).alias("adj_residual"),
    ).orderBy("priority", "status")


# ---------------------------------------------------------------------------
# Benford first-digit screening of order values.  The leading digit is
# extracted with exact integer arithmetic (floor to BIGINT, digit
# count via the decimal string length, one exact power-of-ten
# division) — no log10 near-boundary hazards.
QBENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(FLOOR(CAST(FLOOR(o_totalprice) AS BIGINT)
              / POWER(10, LENGTH(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR)) - 1))
         AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
), c AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
), t AS (SELECT SUM(n) AS tot FROM c)
SELECT digit, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n AS DOUBLE) / tot, 6) AS observed_p,
       ROUND(LOG10(1 + 1.0 / digit), 6) AS benford_p,
       ROUND(CAST(n AS DOUBLE) / tot - LOG10(1 + 1.0 / digit), 6) AS delta_p
FROM c CROSS JOIN t
ORDER BY digit
"""


@declare(
    "q_benford_digits",
    oracle=QBENFORD_ORACLE,
    description="Benford's-law first-digit distribution of order totals vs log10(1+1/d) expectation — fraud/quality screening with exact digit extraction (stats [ext])",
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    ip = F.floor("o_totalprice").cast("long")
    digit = F.floor(ip / F.pow(F.lit(10), F.length(ip.cast("string")) - 1)).cast("long")
    c = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").alias("tot"))
    bp = F.log10(1 + 1.0 / F.col("digit"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("observed_p"),
            F.round(bp, 6).alias("benford_p"),
            F.round(F.col("n").cast("double") / F.col("tot") - bp, 6).alias("delta_p"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence / information-value binning: customers bucketed
# by fixed-width account-balance bins, target = "placed at least one
# URGENT order".  WOE = ln((good_i/G)/(bad_i/B)); IV contribution =
# (good_i/G - bad_i/B) * WOE.  Bins with a zero cell are excluded
# (standard practice; keeps ln finite) — deterministically, as part of
# the definition.  No global window: bin totals are a groupBy, overall
# totals a broadcast single row.
QWOE_ORACLE = """
WITH lab AS (
  SELECT c.c_custkey, CAST(FLOOR(c.c_acctbal / 1000.0) AS BIGINT) AS bin,
         COALESCE(MAX(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END), 0)
           AS label
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), b AS (
  SELECT bin, SUM(label) AS good, COUNT(*) - SUM(label) AS bad
  FROM lab GROUP BY 1
), t AS (SELECT SUM(good) AS g, SUM(bad) AS bd FROM b)
SELECT bin, CAST(good AS BIGINT) AS good, CAST(bad AS BIGINT) AS bad,
       ROUND(LN((CAST(good AS DOUBLE) / g) / (CAST(bad AS DOUBLE) / bd)), 6) AS woe,
       ROUND((CAST(good AS DOUBLE) / g - CAST(bad AS DOUBLE) / bd)
             * LN((CAST(good AS DOUBLE) / g) / (CAST(bad AS DOUBLE) / bd)), 6)
         AS iv_contrib
FROM b CROSS JOIN t
WHERE good > 0 AND bad > 0
ORDER BY bin
"""


@declare(
    "q_woe_bins",
    oracle=QWOE_ORACLE,
    description="weight-of-evidence / information-value binning of customer balances against an urgent-order target — credit-scoring feature encoding (featureeng [ext])",
)
def q_woe_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    lab = (
        t["customer"]
        .join(
            t["orders"].select(
                F.col("o_custkey"),
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("u"),
            ),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .groupBy(
            "c_custkey",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bin"),
        )
        .agg(F.coalesce(F.max("u"), F.lit(0)).alias("label"))
    )
    b = lab.groupBy("bin").agg(
        F.sum("label").alias("good"),
        (F.count(F.lit(1)) - F.sum("label")).alias("bad"),
    )
    tot = b.agg(F.sum("good").alias("g"), F.sum("bad").alias("bd"))
    gr = F.col("good").cast("double") / F.col("g")
    br = F.col("bad").cast("double") / F.col("bd")
    return (
        b.crossJoin(F.broadcast(tot))
        .filter((F.col("good") > 0) & (F.col("bad") > 0))
        .select(
            "bin",
            F.col("good").cast("long").alias("good"),
            F.col("bad").cast("long").alias("bad"),
            F.round(F.log(gr / br), 6).alias("woe"),
            F.round((gr - br) * F.log(gr / br), 6).alias("iv_contrib"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Exact rolling median of the per-type daily event counts over a
# 7-day-row window, emitted only for full windows (7 rows) so the
# median is always the exact middle element — Spark computes it as
# element_at(sort_array(collect_list), 4) (a 7-element in-memory sort
# per row, keyed window), DuckDB as quantile_cont(0.5); both reduce to
# the same integer for odd window sizes.
QROLLMED_ORACLE = """
WITH daily AS (
  SELECT event_type AS etype,
         CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS dn,
         COUNT(*) AS cnt
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), w AS (
  SELECT etype, dn, cnt,
         ROW_NUMBER() OVER (PARTITION BY etype ORDER BY dn) AS rn,
         CAST(quantile_cont(cnt, 0.5) OVER (
             PARTITION BY etype ORDER BY dn
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS med7,
         MAX(cnt) OVER (
             PARTITION BY etype ORDER BY dn
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS max7
  FROM daily
)
SELECT etype, CAST(dn AS BIGINT) AS dn, CAST(cnt AS BIGINT) AS cnt,
       med7, CAST(max7 AS BIGINT) AS max7
FROM w WHERE rn >= 7
ORDER BY etype, dn
"""


@declare(
    "q_rolling_median_events",
    oracle=QROLLMED_ORACLE,
    description="exact 7-row rolling median and max of per-type daily event counts — order-statistic smoothing over keyed windows, full windows only (timeseries [ext])",
)
def q_rolling_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeline fence: no ts → no day; no type → no series
    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = events.groupBy(
        F.col("event_type").alias("etype"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("dn"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w7 = Window.partitionBy("etype").orderBy("dn").rowsBetween(-6, 0)
    wn = Window.partitionBy("etype").orderBy("dn")
    return (
        daily.withColumn("rn", F.row_number().over(wn))
        .withColumn(
            "med7",
            F.element_at(F.sort_array(F.collect_list("cnt").over(w7)), 4).cast("double"),
        )
        .withColumn("max7", F.max("cnt").over(w7).cast("long"))
        .filter(F.col("rn") >= 7)
        .select("etype", F.col("dn").cast("long"), F.col("cnt").cast("long"), "med7", "max7")
        .orderBy("etype", "dn")
    )


# ---------------------------------------------------------------------------
# Clamped running balance (inventory with floor 0 and capacity cap
# 100): the non-windowable per-key recurrence S_t = min(100, max(0,
# S_{t-1} + Δ_t)), computed by operators/sequential.clamped_cumsum
# (applyInPandas — one shuffle on the key, sequential scan per key,
# parallel across keys).  The oracle is a DuckDB RECURSIVE CTE
# replaying the recurrence step by step — the first recursive oracle
# in the suite.  All deltas are integral doubles, so the balances are
# exact and the hash is bit-stable.
QCAPSUM_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT l_partkey,
         CASE WHEN l_linenumber % 2 = 0 THEN l_quantity ELSE -l_quantity END AS dx,
         ROW_NUMBER() OVER (PARTITION BY l_partkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
  FROM lineitem WHERE l_partkey % 40 = 1
), rec AS (
  SELECT l_partkey, rn, dx,
         LEAST(100.0, GREATEST(0.0, dx)) AS balance
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.l_partkey, e.rn, e.dx,
         LEAST(100.0, GREATEST(0.0, r.balance + e.dx))
  FROM rec r JOIN ev e ON e.l_partkey = r.l_partkey AND e.rn = r.rn + 1
)
SELECT l_partkey, CAST(rn AS BIGINT) AS rn, CAST(dx AS DOUBLE) AS dx, balance
FROM rec
ORDER BY l_partkey, rn
"""


@declare(
    "q_capped_running_sum",
    oracle=QCAPSUM_ORACLE,
    description="per-part inventory balance: running sum of ship deltas clamped to [0,100] — non-windowable sequential recurrence via applyInPandas, recursive-CTE oracle (sequential [ext])",
)
def q_capped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.sequential import clamped_cumsum

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    wr = Window.partitionBy("l_partkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    # explicit partkey exchange (r12, the banded-DTW treatment): the
    # row_number window AND clamped_cumsum's grouped applyInPandas
    # both key on l_partkey, so ONE user-specified exchange serves the
    # whole chain at full parallelism — AQE otherwise coalesces the
    # byte-small shuffle under the CPU-dense per-key Python DP
    from jibaro_spark.operators.util import dense_exchange

    ev = (
        dense_exchange(
            li.filter(F.col("l_partkey") % 40 == 1).select(
                "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber",
                "l_quantity",
            ),
            "l_partkey",
        )
        .select(
            "l_partkey",
            F.when(F.col("l_linenumber") % 2 == 0, F.col("l_quantity"))
            .otherwise(-F.col("l_quantity"))
            .alias("dx"),
            F.row_number().over(wr).alias("rn"),
        )
    )
    out = clamped_cumsum(
        ev, keys=["l_partkey"], order_by=["rn"], value_col="dx",
        floor=0.0, cap=100.0, out_col="balance",
    )
    return out.select(
        "l_partkey", F.col("rn").cast("long").alias("rn"), "dx", "balance"
    ).orderBy("l_partkey", "rn")


# ---------------------------------------------------------------------------
# CUSUM change-point statistic on per-type daily event counts:
# S_t = max(0, S_{t-1} + (x_t - μ - k)) with per-type mean μ (an exact
# integer-sum / count division) and slack k = 0.5 — Page's one-sided
# control chart, the floor-only clamped recurrence
# (operators/sequential.cusum).  Recursive-CTE oracle; double math is
# the identical IEEE sequence on both engines.
QCUSUM_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type AS etype,
         CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS dn,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT etype, CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mu FROM daily GROUP BY 1
), ev AS (
  SELECT d.etype, d.dn, d.cnt,
         CAST(d.cnt AS DOUBLE) - s.mu - 0.5 AS dev,
         ROW_NUMBER() OVER (PARTITION BY d.etype ORDER BY d.dn) AS rn
  FROM daily d JOIN stats s ON s.etype = d.etype
), rec AS (
  SELECT etype, dn, cnt, rn, GREATEST(0.0, dev) AS s FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.etype, e.dn, e.cnt, e.rn, GREATEST(0.0, r.s + e.dev)
  FROM rec r JOIN ev e ON e.etype = r.etype AND e.rn = r.rn + 1
)
SELECT etype, CAST(dn AS BIGINT) AS dn, CAST(cnt AS BIGINT) AS cnt,
       ROUND(s, 6) AS cusum
FROM rec
ORDER BY etype, dn
"""


@declare(
    "q_cusum_changepoints",
    oracle=QCUSUM_ORACLE,
    description="one-sided CUSUM drift statistic over per-type daily event counts — change-point detection via the floor-clamped recurrence, recursive-CTE oracle (sequential [ext])",
)
def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.sequential import cusum

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        F.col("event_type").alias("etype"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("dn"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = daily.groupBy("etype").agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mu")
    )
    d = daily.join(F.broadcast(stats), "etype").withColumn(
        "x", F.col("cnt").cast("double")
    )
    out = cusum(
        d, keys=["etype"], order_by=["dn"], value_col="x",
        target="mu", slack=0.5, out_col="s",
    )
    return out.select(
        "etype",
        F.col("dn").cast("long").alias("dn"),
        F.col("cnt").cast("long").alias("cnt"),
        F.round("s", 6).alias("cusum"),
    ).orderBy("etype", "dn")


# ---------------------------------------------------------------------------
# Multi-touch attribution: every purchase credits the click/view
# touches of the same user in its 7-day lookback — linear (1/n per
# touch), first-touch, and last-touch models side by side, rolled up
# per touch channel.  The join is user-keyed (bounded per-user
# fan-out), credit assignment is a purchase-keyed window.
QATTR_ORACLE = """
WITH p AS (
  -- per-purchase-ROW semantics (ADVICE r10): prow is a synthetic
  -- unique purchase key, so duplicate (or NULL) event_ids never merge
  -- two purchases' credit windows.  Tie order among fully-identical
  -- (user_id, ts, event_id) purchases is arbitrary but value-
  -- irrelevant: identical purchases produce identical windows.
  SELECT event_id AS pid, user_id, CAST(ts AS TIMESTAMP) AS pts,
         ROW_NUMBER() OVER (ORDER BY user_id, ts, event_id) AS prow
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
), t AS (
  SELECT event_id AS tid, user_id, event_type AS channel,
         CAST(ts AS TIMESTAMP) AS tts
  FROM events
  WHERE event_type IN ('click', 'view')
    AND user_id IS NOT NULL AND ts IS NOT NULL
), touched AS (
  SELECT p.prow, t.tid, t.channel, t.tts,
         COUNT(*) OVER (PARTITION BY p.prow) AS n,
         ROW_NUMBER() OVER (PARTITION BY p.prow
                            ORDER BY t.tts, t.tid NULLS FIRST) AS rf,
         ROW_NUMBER() OVER (PARTITION BY p.prow
                            ORDER BY t.tts DESC, t.tid DESC NULLS LAST) AS rl
  FROM p JOIN t ON t.user_id = p.user_id
   AND t.tts <= p.pts AND t.tts >= p.pts - INTERVAL 7 DAY
), per_purchase AS (
  -- per-(purchase, channel) counts first: linear credit accumulates as
  -- the EXACT decimal sum of per-purchase fractions (rounded to 10),
  -- the same association the engine's linear formulation uses — a pair
  -- sum of 1.0/n is order-dependent in doubles
  SELECT prow, channel, COUNT(*) AS cc, ANY_VALUE(n) AS n,
         SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS is_first,
         SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS is_last
  FROM touched GROUP BY prow, channel
)
SELECT channel,
       CAST(SUM(cc) AS BIGINT) AS n_touches,
       ROUND(CAST(SUM(CAST(ROUND(CAST(cc AS DOUBLE) / n, 10) AS DECIMAL(18,10)))
                  AS DOUBLE), 4) AS linear_credit,
       CAST(SUM(is_first) AS BIGINT) AS first_touch,
       CAST(SUM(is_last) AS BIGINT) AS last_touch
FROM per_purchase
GROUP BY channel
ORDER BY channel
"""


@declare(
    "q_attribution_credit",
    oracle=QATTR_ORACLE,
    description="multi-touch attribution (linear / first / last) of purchases to click+view touches in a 7-day lookback — user-keyed interval join, purchase-keyed credit windows (attribution [ext])",
)
def q_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-probe formulation (skew probe r10): the previous
    user-keyed interval join materialized every (purchase, touch) pair
    before the credit windows — P·T rows on a hot user (measured 67×
    wall at 2× volume).  Every output is recoverable without pairs:
    each purchase contributes TWO probe rows (window start/end) to the
    per-user time-sorted stream; running per-channel counts difference
    into exact window counts, and first/last-touch carries are the
    as-of trick (one ascending pass for counts + last, one descending
    for first).  Cost: two sorts of (touches + 2·purchases) per user —
    linear, zero pair expansion.  Values are identical to the pair
    form; linear credit accumulates per-purchase fractions as exact
    decimals (both engines — the pair-sum of 1.0/n was order-dependent
    in doubles)."""
    events = load_tables(spark, sf_dir, "events")["events"]
    # NULL fences mirror the oracle: a NULL user/ts row can never pair
    ev = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("__u"),
        F.col("ts").alias("__t"),
        F.col("event_id").alias("__tid"),
        F.col("event_type").alias("__ch"),
        F.lit(1).alias("__side"),
        F.lit(None).cast("long").alias("__pid"),
        F.lit(None).cast("timestamp").alias("__pts"),
    )
    p = ev.filter(F.col("event_type") == "purchase")

    def probe(side: int, t_expr) -> DataFrame:
        return p.select(
            F.col("user_id").alias("__u"),
            t_expr.alias("__t"),
            F.lit(None).cast("long").alias("__tid"),
            F.lit(None).cast("string").alias("__ch"),
            F.lit(side).alias("__side"),
            F.col("event_id").alias("__pid"),
            F.col("ts").alias("__pts"),
        )

    # sides: early probe (0) BEFORE touches at the inclusive lower
    # boundary would not count them (counts are "strictly before"),
    # touches (1), late probe (2) AFTER touches at ts == pts (inclusive
    # upper boundary).  Probes contribute nothing to any carry/count.
    early = probe(0, F.col("ts") - F.expr("INTERVAL 7 DAYS"))
    late = probe(2, F.col("ts"))
    u = touches.unionByName(early).unionByName(late)
    tstruct = F.when(
        F.col("__side") == 1,
        F.struct(
            F.col("__t").alias("tts"),
            F.col("__tid").alias("tid"),
            F.col("__ch").alias("ch"),
        ),
    )
    # CHUNK-PARALLEL carries (VERDICT r10 #3): the plain
    # Window.partitionBy(user) forms put a hot user's whole stream in
    # ONE task; grouped_running_carry range-partitions on
    # (user, time, side, tid) so the hot stream spreads across chunks
    # and per-chunk carries stitch with a ≤ #chunks-row offset window.
    # ascending pass: running per-channel counts + last-touch (max
    # (tts, tid), NULL tid pinned smallest on both sides); descending
    # pass: first-touch (min (tts, tid)) — at the lower boundary
    # touches at exactly pts-7d are IN the window, so they scan before
    # the early probe (side desc).
    from jibaro_spark.operators import relational as rel
    from jibaro_spark.operators.util import size_route

    u = (
        u.withColumn(
            "__ic", F.when(F.col("__ch") == "click", 1).otherwise(0)
        )
        .withColumn("__iv", F.when(F.col("__ch") == "view", 1).otherwise(0))
        .withColumn("__ts1", tstruct)
    )
    # ONE carry pass (r11): the descending first-touch order
    # (__t desc, __side desc, __tid desc_nulls_last) is the EXACT
    # reversal of the ascending order below, so it rides the same
    # range exchange as a rev_last carry — one exchange + checkpoint
    # instead of two (the r10-close bench attributed the second pass
    # at ~1.5 s of the query's 3.3× move).
    u = rel.grouped_running_carry(
        u,
        ["__u"],
        [
            F.col("__t").asc(),
            F.col("__side").asc(),
            F.col("__tid").asc_nulls_first(),
        ],
        last_cols=["__ts1"],
        last_out=["__lastt"],
        sum_cols=["__ic", "__iv"],
        sum_out=["__cc", "__cv"],
        rev_last_cols=["__ts1"],
        rev_last_out=["__firstt"],
        # cost-based plain-window routing (r12): the chunked stitch is
        # hot-key insurance; one group-size probe takes the cheaper
        # plain windows whenever no user owns more than half a fair
        # partition share (identical output either regime)
        route_plain=size_route(
            u, ["__u"], max_abs=rel._CARRY_PLAIN_MAX_ABS,
            share=rel._CARRY_PLAIN_SHARE,
            n_parts=spark.sparkContext.defaultParallelism,
        ).plain,
    )
    # per-purchase-ROW keying (ADVICE r10): __pid alone merges probes
    # of purchases sharing an event_id (duplicate or NULL) and F.first
    # then picks one nondeterministically.  Key by the purchase
    # identity (__u, __pts, __pid) PLUS a within-class row_number so
    # every purchase row gets its own probe pair — deterministic even
    # among fully-identical purchases, whose probe rows carry
    # identical window values (probes contribute nothing to any
    # carry/count, so tie-adjacent probes see the same running state).
    wrn = Window.partitionBy("__u", "__pts", "__pid", "__side").orderBy(
        F.lit(1)
    )
    probes = (
        u.filter(F.col("__side") != 1)
        .withColumn("__rn", F.row_number().over(wrn))
        .groupBy("__u", "__pts", "__pid", "__rn")
        .agg(
            F.first(F.when(F.col("__side") == 2, F.col("__cc")), ignorenulls=True).alias("cc_hi"),
            F.first(F.when(F.col("__side") == 0, F.col("__cc")), ignorenulls=True).alias("cc_lo"),
            F.first(F.when(F.col("__side") == 2, F.col("__cv")), ignorenulls=True).alias("cv_hi"),
            F.first(F.when(F.col("__side") == 0, F.col("__cv")), ignorenulls=True).alias("cv_lo"),
            F.first(F.when(F.col("__side") == 2, F.col("__lastt")), ignorenulls=True).alias("lastt"),
            F.first(F.when(F.col("__side") == 0, F.col("__firstt")), ignorenulls=True).alias("firstt"),
        )
        .select(
            (F.col("cc_hi") - F.col("cc_lo")).alias("cc"),
            (F.col("cv_hi") - F.col("cv_lo")).alias("cv"),
            "lastt",
            "firstt",
        )
        .withColumn("n", F.col("cc") + F.col("cv"))
        .filter(F.col("n") > 0)  # pair semantics: touchless purchases vanish
    )
    per = probes.select(
        "n",
        "lastt",
        "firstt",
        F.explode(
            F.array(
                F.struct(F.lit("click").alias("channel"), F.col("cc").alias("ccnt")),
                F.struct(F.lit("view").alias("channel"), F.col("cv").alias("ccnt")),
            )
        ).alias("e"),
    ).select("n", "lastt", "firstt", "e.channel", "e.ccnt")
    out = (
        per.groupBy("channel")
        .agg(
            F.sum("ccnt").cast("long").alias("n_touches"),
            F.round(
                F.sum(
                    F.round(F.col("ccnt").cast("double") / F.col("n"), 10).cast(
                        "decimal(18,10)"
                    )
                ).cast("double"),
                4,
            ).alias("linear_credit"),
            F.sum(
                F.when(F.col("firstt.ch") == F.col("channel"), 1).otherwise(0)
            ).cast("long").alias("first_touch"),
            F.sum(
                F.when(F.col("lastt.ch") == F.col("channel"), 1).otherwise(0)
            ).cast("long").alias("last_touch"),
        )
        .filter(F.col("n_touches") > 0)  # channels absent from all windows
        .orderBy("channel")
    )
    return out


# ---------------------------------------------------------------------------
# Item-item collaborative filtering: cosine similarity of parts from
# order-basket co-occurrence, top-3 neighbors per part.  cos(i,j) =
# |orders with both| / sqrt(|orders with i| * |orders with j|) — all
# integer counts, one deterministic double expression.  Pair
# generation is the within-basket self-join (baskets are small; the
# quadratic is per-basket, not global), neighbor selection a keyed
# window.
QITEMCOS_ORACLE = """
WITH bi AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), cnt AS (
  SELECT l_partkey, COUNT(*) AS c FROM bi GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS i, b.l_partkey AS j, COUNT(*) AS cij
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey
   AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), sym AS (
  SELECT i, j, cij FROM pairs
  UNION ALL
  SELECT j AS i, i AS j, cij FROM pairs
), scored AS (
  SELECT s.i, s.j, s.cij,
         CAST(s.cij AS DOUBLE) / SQRT(CAST(ci.c AS DOUBLE) * cj.c) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY s.i
           ORDER BY CAST(s.cij AS DOUBLE) / SQRT(CAST(ci.c AS DOUBLE) * cj.c) DESC,
                    s.j) AS rn
  FROM sym s
  JOIN cnt ci ON ci.l_partkey = s.i
  JOIN cnt cj ON cj.l_partkey = s.j
)
SELECT i AS partkey, j AS neighbor, CAST(cij AS BIGINT) AS n_co,
       ROUND(cosine, 6) AS cosine
FROM scored WHERE rn <= 3
ORDER BY partkey, neighbor
"""


@declare(
    "q_item_item_cosine",
    oracle=QITEMCOS_ORACLE,
    description="item-item cosine similarity from basket co-occurrence with top-3 neighbors per part — co-occurrence recommender over within-basket pair join (recommender [ext])",
)
def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    bi = li.select("l_orderkey", "l_partkey").distinct()
    cnt = bi.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = bi.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("i"))
    b = bi.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("j"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("cij"))
    )
    # (An explode-both-orientations rewrite was tried in r12 and
    # reverted: the union's second branch rides ReusedExchange, so the
    # duplicated subtree is mostly a re-read, and the explode measured
    # +0.25 s in a same-session ABAB.)
    sym = pairs.unionByName(
        pairs.select(F.col("j").alias("i"), F.col("i").alias("j"), "cij")
    )
    scored = (
        sym.join(cnt.select(F.col("l_partkey").alias("i"), F.col("c").alias("ci")), "i")
        .join(cnt.select(F.col("l_partkey").alias("j"), F.col("c").alias("cj")), "j")
        .withColumn(
            "cosine",
            F.col("cij").cast("double") / F.sqrt(F.col("ci").cast("double") * F.col("cj")),
        )
    )
    w = Window.partitionBy("i").orderBy(F.col("cosine").desc(), F.col("j"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("i").alias("partkey"),
            F.col("j").alias("neighbor"),
            F.col("cij").cast("long").alias("n_co"),
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy("partkey", "neighbor")
    )


# ---------------------------------------------------------------------------
# 2-D Pareto frontier (skyline): the parts not dominated on (minimize
# retail price, maximize size).  Spark side is
# relational.skyline_2d — distributed prefix maxima with NO
# single-partition window; the oracle is the textbook quadratic
# NOT EXISTS, which the operator must reproduce exactly (including
# duplicate-point survival).
QSKYLINE_ORACLE = """
WITH pts AS (
  SELECT * FROM part
  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    AND isfinite(p_retailprice)
)
SELECT a.p_partkey, a.p_retailprice, CAST(a.p_size AS INT) AS p_size
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE (b.p_retailprice < a.p_retailprice AND b.p_size >= a.p_size)
     OR (b.p_retailprice <= a.p_retailprice AND b.p_size > a.p_size)
)
ORDER BY a.p_partkey
"""


@declare(
    "q_skyline_parts",
    oracle=QSKYLINE_ORACLE,
    description="Pareto frontier of parts on (min price, max size) via distributed chunked prefix maxima — skyline without a single-partition window, NOT-EXISTS oracle (skyline [ext])",
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import skyline_2d

    part = load_tables(spark, sf_dir, "part")["part"]
    # NULL/non-finite contract (relational + float fuzz sweeps):
    # dominance needs defined FINITE coordinates — a NULL-priced point
    # neither dominates nor is dominated under three-valued logic, and
    # the engines disagree on raw NaN comparisons
    inf = float("inf")
    part = part.filter(
        F.col("p_retailprice").isNotNull()
        & F.col("p_size").isNotNull()
        & ~F.isnan("p_retailprice")
        & (F.col("p_retailprice") < inf)
        & (F.col("p_retailprice") > -inf)
    )
    out = skyline_2d(
        part.select("p_partkey", "p_retailprice", "p_size"),
        minimize_col="p_retailprice",
        maximize_col="p_size",
        chunk_width=100.0,
    )
    return out.select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("int").alias("p_size")
    ).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# Autocorrelation function of the daily order-count series at lags
# 1..7: the series self-joined on integer day number (a distributed
# equi-join per lag — no global window), Pearson correlation from
# exact DECIMAL(38,0) sums so no float accumulates in any
# engine-dependent order.  DECIMAL (not BIGINT) keeps the
# sum-of-products overflow-safe at real scale (ADVICE r5 on silent
# BIGINT wrap).
QACF_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS dn,
         COUNT(*) AS cnt
  FROM orders GROUP BY 1
), lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)),
pairs AS (
  SELECT l.lag, CAST(a.cnt AS DECIMAL(18,0)) AS x, CAST(b.cnt AS DECIMAL(18,0)) AS y
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON b.dn = a.dn + l.lag
), s AS (
  SELECT lag, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy
  FROM pairs GROUP BY lag
)
SELECT lag, CAST(n AS BIGINT) AS n_pairs,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
FROM s
ORDER BY lag
"""


@declare(
    "q_autocorr_lags",
    oracle=QACF_ORACLE,
    description="autocorrelation of the daily order-count series at lags 1-7 — integer-day self-join per lag, Pearson r from exact decimal sums (timeseries [ext])",
)
def q_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("dn")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = daily.select(F.col("dn").alias("adn"), F.col("cnt").cast("decimal(18,0)").alias("x"))
    b = daily.select(F.col("dn").alias("bdn"), F.col("cnt").cast("decimal(18,0)").alias("y"))
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("bdn") == F.col("adn") + F.col("lag"))
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = F.sqrt(
        (nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return s.select(
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Mutual-information cells between l_returnflag and l_linestatus:
# pointwise MI ln((n_ij·n)/(n_i·n_j)) and the cell's contribution
# (n_ij/n)·pmi — all ratios of exact integer counts (the products stay
# within BIGINT at any SF that fits row counts in BIGINT, and the
# ln/division is one deterministic double expression).
QMI_ORACLE = """
WITH c AS (
  SELECT l_returnflag AS flag, l_linestatus AS status, COUNT(*) AS nij
  FROM lineitem GROUP BY 1, 2
), t AS (
  SELECT c.flag, c.status, c.nij,
         SUM(c.nij) OVER (PARTITION BY c.flag) AS ni,
         SUM(c.nij) OVER (PARTITION BY c.status) AS nj,
         SUM(c.nij) OVER () AS n
  FROM c
)
SELECT flag, status, CAST(nij AS BIGINT) AS n_ij,
       ROUND(LN(CAST(nij AS DOUBLE) * n / (CAST(ni AS DOUBLE) * nj)), 6) AS pmi,
       ROUND(CAST(nij AS DOUBLE) / n
             * LN(CAST(nij AS DOUBLE) * n / (CAST(ni AS DOUBLE) * nj)), 6)
         AS mi_contrib
FROM t
ORDER BY flag, status
"""


@declare(
    "q_mutual_info_cells",
    oracle=QMI_ORACLE,
    description="pointwise mutual information and MI contribution per (returnflag, linestatus) cell — categorical dependence screening from integer counts (stats [ext])",
)
def q_mutual_info_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    c = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status")
    ).agg(F.count(F.lit(1)).alias("nij"))
    wi = Window.partitionBy("flag")
    wj = Window.partitionBy("status")
    wn = Window.partitionBy()
    t = (
        c.withColumn("ni", F.sum("nij").over(wi))
        .withColumn("nj", F.sum("nij").over(wj))
        .withColumn("n", F.sum("nij").over(wn))
    )
    pmi = F.log(F.col("nij").cast("double") * F.col("n") / (F.col("ni").cast("double") * F.col("nj")))
    return t.select(
        "flag",
        "status",
        F.col("nij").cast("long").alias("n_ij"),
        F.round(pmi, 6).alias("pmi"),
        F.round(F.col("nij").cast("double") / F.col("n") * pmi, 6).alias("mi_contrib"),
    ).orderBy("flag", "status")
