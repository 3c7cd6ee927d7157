"""Time-series declared queries: smoothing and forecasting (EWMA, Holt,
Holt-Winters, Croston), trend and seasonality, autocorrelation and
white-noise tests, change points, DTW, control charts and demand
classification.

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.registry import declare, load_tables


# ---------------------------------------------------------------------------
# Trailing-window z-score anomaly detection on the event stream: each
# event's value against the mean/std of its user's previous 10 events.
# Moments are decimal-accumulated over the window (order-independent);
# the z-score is one double expression rounded to 6 dp.  Sample-std
# denominator (n−1); windows with <3 trailing events emit NULL z.
QZSCORE_ORACLE = """
WITH w AS (
  SELECT event_id, user_id, ts, value,
         CAST(COUNT(value) OVER tw AS BIGINT) AS n_prev,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER tw AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(28,8))) OVER tw AS DOUBLE) AS s2
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
  WINDOW tw AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, value,
       n_prev,
       CASE WHEN n_prev >= 3
                 AND ((CAST(n_prev AS DOUBLE) * s2) - (s1 * s1)) > 0.0
            THEN ROUND((value - (s1 / CAST(n_prev AS DOUBLE)))
                       / SQRT((((CAST(n_prev AS DOUBLE) * s2) - (s1 * s1))
                               / CAST(n_prev AS DOUBLE))
                              / (CAST(n_prev AS DOUBLE) - 1.0)), 6)
            ELSE NULL END AS zscore
FROM w
ORDER BY event_id
"""


@declare(
    "q_event_zscore",
    oracle=QZSCORE_ORACLE,
    description="trailing-window z-score anomaly signal per user (streaming-adjacent analytics [ext])",
)
def q_event_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeline fence: no ts/user → no position in the trailing window
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    tw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    v = F.col("value")
    d = ev.select(
        "event_id",
        "user_id",
        "value",
        F.count("value").over(tw).cast("long").alias("n_prev"),
        F.sum(v.cast("decimal(18,4)")).over(tw).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(28,8)")).over(tw).cast("double").alias("s2"),
    )
    n = F.col("n_prev").cast("double")
    s1, s2 = F.col("s1"), F.col("s2")
    var_num = (n * s2) - (s1 * s1)
    z = (v - (s1 / n)) / F.sqrt((var_num / n) / (n - F.lit(1.0)))
    return d.select(
        "event_id",
        "user_id",
        "value",
        "n_prev",
        F.when((F.col("n_prev") >= 3) & (var_num > 0.0), F.round(z, 6))
        .otherwise(F.lit(None))
        .alias("zscore"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Gap-fill / carry-forward: sparse per-user measurements (only
# 'purchase' events carry a value here) forward-filled with
# last-non-null over the user's ordered history — the standard
# sensor/feature gap-fill.  No arithmetic: values pass through, so
# determinism is free.
QFFILL_ORACLE = """
SELECT event_id, user_id,
       CASE WHEN event_type = 'purchase' THEN value ELSE NULL END AS sparse_value,
       last_value(CASE WHEN event_type = 'purchase' THEN value ELSE NULL END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM events
WHERE ts IS NOT NULL AND user_id IS NOT NULL
ORDER BY event_id
"""


@declare(
    "q_fill_forward",
    oracle=QFFILL_ORACLE,
    description="last-non-null forward fill over per-user ordered history (W3 [ext])",
)
def q_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeline fence: carry-forward is ts-ordered per user
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    sparse = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        sparse.alias("sparse_value"),
        F.last(sparse, ignorenulls=True).over(w).alias("filled_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Bounded EWMA (half-life smoothing over the last 8 observations):
# weights are exact powers of two (α = 1/2), the weighted sum runs
# left-to-right over the frame-ordered value list in both engines,
# and the geometric normalizer is closed-form — deterministic without
# decimal machinery.  The window is ROWS-bounded, so state is O(8)
# per key at any scale (the streaming form is the same expression
# over applyInPandasWithState history).
QEWMA_ORACLE = """
WITH l AS (
  SELECT event_id, user_id, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vs
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
)
SELECT event_id, user_id, value,
       ROUND(list_sum(list_transform(range(1, len(vs) + 1),
                      i -> vs[i] * pow(0.5, len(vs) - i + 1)))
             / (1 - pow(0.5, len(vs))), 6) AS ewma
FROM l
ORDER BY event_id
"""


@declare(
    "q_ewma_events",
    oracle=QEWMA_ORACLE,
    description="bounded exponential moving average (power-of-two weights, closed-form normalizer) (W3 [ext])",
)
def q_ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL values AND null timestamps are excluded EXPLICITLY on both
    # sides: Spark's collect_list silently drops NULL values while
    # DuckDB's list() keeps them (shifting len(vs)/weights), and the
    # two engines default to opposite NULL placement in ASC ordering
    # (Spark NULLS FIRST, DuckDB NULLS LAST) so a null ts would shift
    # the ROWS frame — without both filters the equivalence holds only
    # on non-null fixture data (ADVICE r3/r4; null-injection test in
    # tests/test_round5_fixes.py).
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    w8 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, 0)
    )
    vs = F.collect_list("value").over(w8)
    d = ev.select("event_id", "user_id", "value", vs.alias("vs"))
    n = F.size("vs")
    num = F.aggregate(
        F.zip_with(
            F.col("vs"),
            F.sequence(F.lit(1), n),
            lambda v, i: v * F.pow(F.lit(0.5), (n - i + 1).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ewma = num / (F.lit(1.0) - F.pow(F.lit(0.5), n.cast("double")))
    return d.select(
        "event_id", "user_id", "value", F.round(ewma, 6).alias("ewma")
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Grouped OLS trend: per event type, the least-squares slope of value
# over time — the distributed "is this metric drifting" primitive.
# Closed form from five sufficient statistics (n, Σx, Σy, Σxy, Σx²),
# each an EXACT integer: x is epoch-microseconds centered on the
# group's min (bounds the magnitudes), y is value scaled to integer
# micro-units.  Spark accumulates in DECIMAL(38,0), DuckDB in HUGEINT
# — no float sum anywhere until the single final division, so the
# hash is bit-exact.  One groupBy for the center, one for the sums;
# the center table is a broadcast dimension.
QTREND_ORACLE = """
WITH v AS (
  SELECT event_type, epoch_us(ts) AS x,
         CAST(ROUND(value * 1000000) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), c AS (
  SELECT event_type, MIN(x) AS x0 FROM v GROUP BY event_type
), s AS (
  SELECT v.event_type,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(v.x - c.x0 AS HUGEINT)) AS sx,
         SUM(CAST(v.y AS HUGEINT)) AS sy,
         SUM(CAST(v.x - c.x0 AS HUGEINT) * v.y) AS sxy,
         SUM(CAST(v.x - c.x0 AS HUGEINT) * (v.x - c.x0)) AS sxx
  FROM v JOIN c USING (event_type)
  GROUP BY v.event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * 86400000000, 6)
         AS slope_per_day
FROM s ORDER BY event_type
"""


@declare(
    "q_trend_slopes",
    oracle=QTREND_ORACLE,
    description="per-group OLS slope of value over time from exact integer sufficient statistics — drift detection with a bit-exact cross-engine hash (A9/W3 [ext])",
)
def q_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    v = events.filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.unix_micros("ts").alias("x"),
        F.round(F.col("value") * 1000000, 0).cast("long").alias("y"),
    )
    c = v.groupBy("event_type").agg(F.min("x").alias("x0"))
    dec = "decimal(38,0)"
    xc = (F.col("x") - F.col("x0")).cast(dec)
    s = (
        v.join(F.broadcast(c), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(xc).cast(dec).alias("sx"),
            F.sum(F.col("y").cast(dec)).cast(dec).alias("sy"),
            F.sum(xc * F.col("y")).cast(dec).alias("sxy"),
            F.sum(xc * (F.col("x") - F.col("x0"))).cast(dec).alias("sxx"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(num / den * F.lit(86400000000.0), 6).alias("slope_per_day"),
    ).orderBy("event_type")


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
# "Days until a strictly higher day": for each (event_type, day) count,
# the first later day whose count exceeds it — the monotonic-stack
# problem (sequential.next_greater; not windowable).  The oracle is
# the definition itself: a correlated MIN over later greater days.
QN2H_ORACLE = """
WITH daily AS (
  SELECT event_type AS etype,
         CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS dn,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT a.etype, CAST(a.dn AS BIGINT) AS dn, CAST(a.cnt AS BIGINT) AS cnt,
       CAST((SELECT MIN(b.dn) FROM daily b
             WHERE b.etype = a.etype AND b.dn > a.dn AND b.cnt > a.cnt)
            AS BIGINT) AS next_dn,
       CAST((SELECT MIN(b.dn) FROM daily b
             WHERE b.etype = a.etype AND b.dn > a.dn AND b.cnt > a.cnt) - a.dn
            AS BIGINT) AS days_until
FROM daily a
ORDER BY etype, dn
"""


@declare(
    "q_days_to_higher",
    oracle=QN2H_ORACLE,
    description="first later day with a strictly higher event count per type — monotonic-stack next-greater-element via applyInPandas, correlated-MIN oracle (sequential [ext])",
)
def q_days_to_higher(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.sequential import next_greater

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        F.col("event_type").alias("etype"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("dn"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    out = next_greater(
        daily, keys=["etype"], order_col="dn", value_col="cnt", out_col="next_dn"
    )
    return out.select(
        "etype",
        F.col("dn").cast("long").alias("dn"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("next_dn").cast("long").alias("next_dn"),
        (F.col("next_dn").cast("long") - F.col("dn")).alias("days_until"),
    ).orderBy("etype", "dn")


# ---------------------------------------------------------------------------
# Linear interpolation of masked gaps in the per-type daily count
# series (days with dn % 5 = 2 are nulled to synthesize gaps):
# anchors come from ignore-nulls window endpoints, the fill is the
# standard two-anchor linear blend — integer anchors, one
# deterministic double expression; series edges fall back to the
# single available anchor.
QINTERP_ORACLE = """
WITH daily AS (
  SELECT event_type AS etype,
         CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS dn,
         COUNT(*) AS cnt
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), masked AS (
  SELECT etype, dn, CASE WHEN dn % 5 = 2 THEN NULL ELSE cnt END AS v FROM daily
), anch AS (
  SELECT etype, dn, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY etype ORDER BY dn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN dn END IGNORE NULLS) OVER (
           PARTITION BY etype ORDER BY dn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pdn,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY etype ORDER BY dn
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN dn END IGNORE NULLS) OVER (
           PARTITION BY etype ORDER BY dn
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ndn
  FROM masked
)
SELECT etype, CAST(dn AS BIGINT) AS dn, CAST(v AS BIGINT) AS observed,
       ROUND(CASE
         WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
         WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
         WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
         ELSE CAST(pv AS DOUBLE)
              + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                * (dn - pdn) / (ndn - pdn)
       END, 6) AS filled
FROM anch
ORDER BY etype, dn
"""


@declare(
    "q_linear_interpolate",
    oracle=QINTERP_ORACLE,
    description="linear interpolation of synthesized gaps in per-type daily counts — ignore-nulls window anchors, two-anchor blend, edge fallback (timeseries [ext])",
)
def q_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeline fence: no ts → no day; no type → no series
    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = events.groupBy(
        F.col("event_type").alias("etype"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("dn"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    masked = daily.withColumn(
        "v", F.when(F.col("dn") % 5 == 2, F.lit(None)).otherwise(F.col("cnt"))
    )
    wp = Window.partitionBy("etype").orderBy("dn").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.partitionBy("etype").orderBy("dn").rowsBetween(0, Window.unboundedFollowing)
    anch = (
        masked.withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn(
            "pdn",
            F.last(F.when(F.col("v").isNotNull(), F.col("dn")), ignorenulls=True).over(wp),
        )
        .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
        .withColumn(
            "ndn",
            F.first(F.when(F.col("v").isNotNull(), F.col("dn")), ignorenulls=True).over(wn),
        )
    )
    pv, nv = F.col("pv").cast("double"), F.col("nv").cast("double")
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
        .when(F.col("pv").isNull(), nv)
        .when(F.col("nv").isNull(), pv)
        .otherwise(
            pv + (nv - pv) * (F.col("dn") - F.col("pdn")) / (F.col("ndn") - F.col("pdn"))
        )
    )
    return anch.select(
        "etype",
        F.col("dn").cast("long").alias("dn"),
        F.col("v").cast("long").alias("observed"),
        F.round(filled, 6).alias("filled"),
    ).orderBy("etype", "dn")


# ---------------------------------------------------------------------------
# Holt double exponential smoothing (level + trend) of per-type daily
# event value, via operators/sequential.holt — the two-state sibling
# of the round-6b CUSUM recurrence (non-windowable: the trend couples
# each step to the previous STATE, not a frame).  α=1/2, β=1/4 are
# exact binary fractions, and the daily inputs are decimal-summed
# doubles, so every recurrence step is the same IEEE expression on
# both engines and the oracle's RECURSIVE-CTE replay is bit-identical.
QHOLT_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type AS etype, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT etype, date_diff('day', DATE '1970-01-01', d) AS dn, x,
         ROW_NUMBER() OVER (PARTITION BY etype ORDER BY d) AS rn
  FROM daily
), rec AS (
  SELECT etype, dn, rn, x, CAST(x AS DOUBLE) AS level,
         CAST(0.0 AS DOUBLE) AS trend FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.etype, s.dn, s.rn, s.x,
         0.5 * s.x + 0.5 * (r.level + r.trend),
         0.25 * ((0.5 * s.x + 0.5 * (r.level + r.trend)) - r.level)
           + 0.75 * r.trend
  FROM rec r JOIN seq s ON s.etype = r.etype AND s.rn = r.rn + 1
)
SELECT etype, CAST(dn AS BIGINT) AS dn, ROUND(x, 6) AS x,
       ROUND(level, 6) AS level, ROUND(trend, 6) AS trend
FROM rec ORDER BY etype, dn
"""


@declare(
    "q_holt_forecast",
    oracle=QHOLT_ORACLE,
    description="Holt level+trend smoothing of per-type daily event value — two-state sequential recurrence via applyInPandas, recursive-CTE oracle (timeseries [ext])",
)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.sequential import holt

    events = load_tables(spark, sf_dir, "events")["events"]
    daily = events.groupBy(
        F.col("event_type").alias("etype"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("dn"),
    ).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)")).cast("double").alias("x")
    )
    out = holt(daily, keys=["etype"], order_by=["dn"], value_col="x",
               alpha=0.5, beta=0.25)
    return out.select(
        "etype",
        F.col("dn").cast("long").alias("dn"),
        F.round("x", 6).alias("x"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
    ).orderBy("etype", "dn")


# ---------------------------------------------------------------------------
# Day-of-week seasonality indices per event type ([ext] seasonal
# decomposition's additive-lite form): index = dow mean / overall
# mean, both assembled as exact-decimal sums divided as doubles.  The
# weekday is epoch-day mod 7 — a pure integer convention identical in
# any engine, sidestepping the Sunday-first/Monday-first disagreement
# between engines' dayofweek functions.  One grouped pass over
# events; the index table is (#types × 7)-bounded.
QSEASON_ORACLE = """
WITH base AS (
  SELECT event_type AS etype,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow,
         CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS x
  FROM events
), per_dow AS (
  SELECT etype, dow, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(28,6)) AS s
  FROM base GROUP BY etype, dow
), per_type AS (
  SELECT etype, CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(s) AS DECIMAL(28,6)) AS s_tot
  FROM per_dow GROUP BY etype
)
SELECT d.etype, CAST(d.dow AS BIGINT) AS dow, d.n,
       ROUND((CAST(d.s AS DOUBLE) / d.n)
             / (CAST(t.s_tot AS DOUBLE) / t.n_tot), 6) AS seasonal_index
FROM per_dow d JOIN per_type t ON t.etype = d.etype
ORDER BY d.etype, dow
"""


@declare(
    "q_seasonality_dow",
    oracle=QSEASON_ORACLE,
    description="day-of-week seasonal indices per event type — epoch-day mod-7 weekday, decimal-exact mean ratios (timeseries [ext])",
)
def q_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    base = events.select(
        F.col("event_type").alias("etype"),
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7).alias("dow"),
        F.round("value", 6).cast("decimal(18,6)").alias("x"),
    )
    per_dow = base.groupBy("etype", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(28,6)").alias("s"),
    )
    per_type = per_dow.groupBy("etype").agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("s").cast("decimal(28,6)").alias("s_tot"),
    )
    return (
        per_dow.join(F.broadcast(per_type), "etype")
        .select(
            "etype",
            F.col("dow").cast("long"),
            "n",
            F.round(
                (F.col("s").cast("double") / F.col("n"))
                / (F.col("s_tot").cast("double") / F.col("n_tot")),
                6,
            ).alias("seasonal_index"),
        )
        .orderBy("etype", "dow")
    )


# ---------------------------------------------------------------------------
# Day-of-week-adjusted robust outliers ([ext] time series — composes
# the seasonality and MAD wings): daily order counts, exact type-1
# (lower) median per dow from distinct-count ECDF ranks, residual MAD
# with the same machinery, flag |residual| > 3·MAD.  The windowed
# passes run over (dow, distinct count value) cells — bounded by the
# count-value domain, not by days.

QSO_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         COUNT(*) AS cnt
  FROM orders GROUP BY 1
), d2 AS (
  SELECT day, cnt, (day + 4) % 7 AS dow FROM daily
), cells AS (
  SELECT dow, cnt, COUNT(*) AS k FROM d2 GROUP BY dow, cnt
), med AS (
  SELECT dow, MIN(cnt) AS med FROM (
    SELECT dow, cnt,
           SUM(k) OVER (PARTITION BY dow ORDER BY cnt) AS cum,
           SUM(k) OVER (PARTITION BY dow) AS n
    FROM cells
  ) WHERE cum >= (n + 1) // 2 GROUP BY dow
), res AS (
  SELECT d2.day, d2.dow, d2.cnt, med.med, d2.cnt - med.med AS r
  FROM d2 JOIN med ON d2.dow = med.dow
), acell AS (
  SELECT dow, ABS(r) AS a, COUNT(*) AS k FROM res GROUP BY dow, ABS(r)
), mad AS (
  SELECT dow, MIN(a) AS mad FROM (
    SELECT dow, a,
           SUM(k) OVER (PARTITION BY dow ORDER BY a) AS cum,
           SUM(k) OVER (PARTITION BY dow) AS n
    FROM acell
  ) WHERE cum >= (n + 1) // 2 GROUP BY dow
)
SELECT res.day, CAST(res.dow AS BIGINT) AS dow,
       CAST(res.cnt AS BIGINT) AS cnt,
       CAST(res.med AS BIGINT) AS expected,
       CAST(res.r AS BIGINT) AS residual
FROM res JOIN mad ON res.dow = mad.dow
WHERE ABS(res.r) > 3 * mad.mad
ORDER BY res.day
"""


@declare(
    "q_seasonal_outliers",
    oracle=QSO_ORACLE,
    description="Day-of-week-adjusted robust outliers on daily order counts: exact type-1 dow medians + residual MAD (counts-first ECDF ranks), flag |r| > 3*MAD (time series [ext])",
)
def q_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    daily = (
        o.select(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("dow", (F.col("day") + 4) % 7)
    )

    def type1_median(df: DataFrame, val: str) -> DataFrame:
        cells = df.groupBy("dow", val).agg(F.count(F.lit(1)).alias("k"))
        cum_w = (
            Window.partitionBy("dow")
            .orderBy(val)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ecdf = cells.select(
            "dow",
            val,
            F.sum("k").over(cum_w).alias("cum"),
            F.sum("k").over(Window.partitionBy("dow")).alias("n"),
        )
        return (
            ecdf.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
            .groupBy("dow")
            .agg(F.min(val).alias("__m"))
        )

    med = type1_median(daily, "cnt").withColumnRenamed("__m", "med")
    res = daily.join(med, "dow").withColumn("r", F.col("cnt") - F.col("med"))
    mad = (
        type1_median(res.withColumn("a", F.abs(F.col("r"))), "a")
        .withColumnRenamed("__m", "mad")
    )
    return (
        res.join(mad, "dow")
        .filter(F.abs(F.col("r")) > 3 * F.col("mad"))
        .select(
            "day",
            F.col("dow").cast("long").alias("dow"),
            F.col("cnt").cast("long").alias("cnt"),
            F.col("med").cast("long").alias("expected"),
            F.col("r").cast("long").alias("residual"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive backtest ([ext] forecasting eval — closes the loop on
# the Holt/seasonality wing with an error metric): f(t) = y(t−7) on
# daily counts per priority.  The forecast is a KEYED JOIN on
# (priority, day−7) — correct when dates are missing, where a 7-ROW
# lag window silently shifts.  MAE is exact-integer; sMAPE sums
# round(·,10) addends in decimal.

QBN_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS pr,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         COUNT(*) AS y
  FROM orders GROUP BY 1, 2
), j AS (
  SELECT a.pr, a.day, a.y, f.y AS f
  FROM daily a JOIN daily f ON a.pr = f.pr AND f.day = a.day - 7
), t AS (
  SELECT pr, y, f, ABS(y - f) AS ae,
         CAST(ROUND(2.0 * ABS(y - f) / (y + f), 10) AS DECIMAL(18,12)) AS sm
  FROM j
)
SELECT pr, CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(CAST(SUM(CAST(ae AS HUGEINT)) AS DOUBLE) / COUNT(*), 6) AS mae,
       ROUND(CAST(SUM(sm) AS DOUBLE) / COUNT(*), 6) AS smape
FROM t GROUP BY pr ORDER BY pr
"""


@declare(
    "q_backtest_naive7",
    oracle=QBN_ORACLE,
    description="Seasonal-naive f(t)=y(t-7) backtest per priority on daily counts: keyed day-7 join (gap-correct), exact-integer MAE, rounded-addend sMAPE (forecast eval [ext])",
)
def q_backtest_naive7(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    daily = (
        o.select(
            F.col("o_orderpriority").alias("pr"),
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .groupBy("pr", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    fcast = daily.select(
        "pr", (F.col("day") + 7).alias("day"), F.col("y").alias("f")
    )
    j = daily.join(fcast, ["pr", "day"])
    t = j.select(
        "pr",
        F.abs(F.col("y") - F.col("f")).alias("ae"),
        F.round(2.0 * F.abs(F.col("y") - F.col("f")) / (F.col("y") + F.col("f")), 10)
        .cast("decimal(18,12)")
        .alias("sm"),
    )
    return (
        t.groupBy("pr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(
                F.sum(F.col("ae").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mae"),
            F.round(F.sum("sm").cast("double") / F.count(F.lit(1)), 6).alias("smape"),
        )
        .orderBy("pr")
    )


# ---------------------------------------------------------------------------
# Durbin-Watson serial-correlation statistic of the daily order-count
# series per priority.  DW is invariant to scaling the residuals, so
# e~_t = D·y_t − S (both integers) replaces y_t − S/D exactly:
# numerator Σ(e~_t − e~_{t-1})² and denominator Σe~_t² are exact
# integer sums, one double division at the end.  The lag window runs
# over the DAY-grain series (calendar-bounded), never raw rows.

QDW_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)
), tot AS (
  SELECT priority, CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(y) AS BIGINT) AS s
  FROM daily GROUP BY priority
), resid AS (
  SELECT d.priority, d.d,
         CAST(t.nd * d.y - t.s AS DECIMAL(38,0)) AS e,
         LAG(CAST(t.nd * d.y - t.s AS DECIMAL(38,0)))
           OVER (PARTITION BY d.priority ORDER BY d.d) AS e_prev
  FROM daily d JOIN tot t USING (priority)
), sums AS (
  SELECT priority,
         SUM(CASE WHEN e_prev IS NOT NULL
             THEN (e - e_prev) * (e - e_prev) ELSE 0 END) AS num,
         SUM(e * e) AS den,
         COUNT(*) AS nd
  FROM resid GROUP BY priority
)
SELECT priority, CAST(nd AS BIGINT) AS n_days,
       CASE WHEN den = 0 THEN NULL
            ELSE ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS dw
FROM sums ORDER BY priority
"""


@declare(
    "q_durbin_watson",
    oracle=QDW_ORACLE,
    description="Durbin-Watson serial-correlation diagnostic of daily order counts per priority: scale-invariance makes the residual series exactly integer (D·y−S), so both DW sums are exact; calendar-bounded lag window (time-series diagnostics [ext])",
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    tot = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("y").cast("long").alias("s"),
    )
    e = (F.col("nd") * F.col("y") - F.col("s")).cast("decimal(38,0)")
    w = Window.partitionBy("priority").orderBy("d")
    resid = (
        daily.join(F.broadcast(tot), "priority")
        .withColumn("e", e)
        .withColumn("e_prev", F.lag("e").over(w))
    )
    sums = resid.groupBy("priority").agg(
        F.sum(
            F.when(
                F.col("e_prev").isNotNull(),
                (F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev")),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("num"),
        F.sum(F.col("e") * F.col("e")).alias("den"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    return sums.select(
        "priority",
        "n_days",
        F.when(
            F.col("den") == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6)
        )
        .alias("dw"),
    ).orderBy("priority")


@declare(
    "q_dtw_priority_pairs",
    description="banded DTW distance between daily order-count series of every priority pair — applyInPandas DP per pair, key-domain-bounded replication; exact-integer distances pinned vs a pure-Python reference AND oracle-pinned end-to-end via the monthly twin q_dtw_monthly_pairs (time-series similarity [ext], recursion depth keeps this variant rows-only)",
)
def q_dtw_priority_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.sequential import dtw_distance_pairs

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    out = dtw_distance_pairs(daily, "priority", "d", "y", band=7)
    return out.orderBy("key_a", "key_b")


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (m=7) of per-type daily
# event value — the seasonal completion of q_holt_forecast.  α=1/2,
# β=γ=1/4 are exact binary fractions and the seasonal state is a
# rotating list, so the recursive-CTE replay is bit-identical to the
# operator's Arrow-batched recurrence (q_holt_forecast's discipline).

QHW_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type AS etype, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT etype, date_diff('day', DATE '1970-01-01', d) AS dn, x,
         ROW_NUMBER() OVER (PARTITION BY etype ORDER BY d) AS rn
  FROM daily
), rec AS (
  SELECT etype, dn, rn, x, CAST(x AS DOUBLE) AS level,
         CAST(0.0 AS DOUBLE) AS trend, CAST(0.0 AS DOUBLE) AS s_cur,
         CAST([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[]) AS seas
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.etype, s.dn, s.rn, s.x,
         0.5 * (s.x - r.seas[1]) + 0.5 * (r.level + r.trend),
         0.25 * ((0.5 * (s.x - r.seas[1]) + 0.5 * (r.level + r.trend))
                 - r.level) + 0.75 * r.trend,
         0.25 * (s.x - (0.5 * (s.x - r.seas[1])
                        + 0.5 * (r.level + r.trend))) + 0.75 * r.seas[1],
         r.seas[2:] || [0.25 * (s.x - (0.5 * (s.x - r.seas[1])
                        + 0.5 * (r.level + r.trend))) + 0.75 * r.seas[1]]
  FROM rec r JOIN seq s ON s.etype = r.etype AND s.rn = r.rn + 1
)
-- floor(x*1e6 + 0.5)/1e6, not ROUND(x, 6): with binary-fraction α/β/γ
-- the state values land EXACTLY on half boundaries at scale 6 (skew
-- sweep r10 found level = …2190625), where Spark's shortest-decimal
-- HALF_UP and DuckDB's binary-value round disagree by 1e-6; the floor
-- form computes on the identical doubles in both engines
SELECT etype, CAST(dn AS BIGINT) AS dn,
       floor(x * 1000000 + 0.5) / 1000000 AS x,
       floor(level * 1000000 + 0.5) / 1000000 AS level,
       floor(trend * 1000000 + 0.5) / 1000000 AS trend,
       floor(s_cur * 1000000 + 0.5) / 1000000 AS s_cur
FROM rec ORDER BY etype, dn
"""


@declare(
    "q_holt_winters",
    oracle=QHW_ORACLE,
    description="Holt-Winters additive seasonal smoothing (m=7, α=1/2, β=γ=1/4) of per-type daily event value — rotating-list seasonal state, bit-identical to the recursive-CTE replay (forecasting [ext])",
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.sequential import holt_winters

    ev = load_tables(spark, sf_dir, "events")["events"]
    daily = ev.groupBy(
        F.col("event_type").alias("etype"), F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("x")
    )
    daily = daily.select(
        "etype", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).alias("dn"), "x"
    )
    out = holt_winters(daily, keys=["etype"], order_by=["dn"], value_col="x", period=7)

    # tie-deterministic half-up on the binary value (see QHW_ORACLE
    # comment): F.round's shortest-decimal HALF_UP diverges from the
    # oracle at exact half boundaries, which binary-fraction smoothing
    # constants actually produce
    def rnd6(c: str):
        return F.floor(F.col(c) * 1e6 + F.lit(0.5)) / F.lit(1e6)

    return out.select(
        "etype",
        F.col("dn").cast("long").alias("dn"),
        rnd6("x").alias("x"),
        rnd6("level").alias("level"),
        rnd6("trend").alias("trend"),
        rnd6("s_cur").alias("s_cur"),
    ).orderBy("etype", "dn")


QCROSTON_ORACLE = """
WITH RECURSIVE od AS (
  SELECT * FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_orderkey IS NOT NULL
), bounds AS (
  SELECT date_diff('day', DATE '1970-01-01', MIN(CAST(o_orderdate AS DATE))) AS d0,
         LEAST(date_diff('day', DATE '1970-01-01', MAX(CAST(o_orderdate AS DATE))),
               date_diff('day', DATE '1970-01-01', MIN(CAST(o_orderdate AS DATE))) + 399)
           AS d1
  FROM od
), pr AS (
  SELECT DISTINCT o_orderpriority AS priority FROM od
), cal AS (
  SELECT pr.priority, CAST(b.d0 + g.i AS BIGINT) AS dn
  FROM pr CROSS JOIN bounds b
  CROSS JOIN (SELECT unnest(generate_series(0,
              (SELECT d1 - d0 FROM bounds))) AS i) g
), dem AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dn,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM od CROSS JOIN bounds b
  WHERE o_orderkey % 50 = 0
    AND date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) <= b.d1
  GROUP BY 1, 2
), seq AS (
  SELECT c.priority, c.dn, COALESCE(d.x, 0.0) AS x,
         ROW_NUMBER() OVER (PARTITION BY c.priority ORDER BY c.dn) AS rn
  FROM cal c LEFT JOIN dem d USING (priority, dn)
), rec AS (
  SELECT priority, dn, rn, x,
         CASE WHEN x > 0 THEN x END AS z,
         CASE WHEN x > 0 THEN CAST(1.0 AS DOUBLE) END AS p,
         CASE WHEN x > 0 THEN 1 ELSE 2 END AS q
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.priority, s.dn, s.rn, s.x,
         CASE WHEN s.x > 0 AND r.z IS NULL THEN s.x
              WHEN s.x > 0 THEN 0.5 * s.x + 0.5 * r.z
              ELSE r.z END,
         CASE WHEN s.x > 0 AND r.z IS NULL THEN CAST(r.q AS DOUBLE)
              WHEN s.x > 0 THEN 0.5 * CAST(r.q AS DOUBLE) + 0.5 * r.p
              ELSE r.p END,
         CASE WHEN s.x > 0 THEN 1 ELSE r.q + 1 END
  FROM rec r JOIN seq s ON s.priority = r.priority AND s.rn = r.rn + 1
)
SELECT priority, dn, x,
       ROUND(z, 6) AS z_hat, ROUND(p, 6) AS p_hat,
       ROUND(z / p, 6) AS forecast
FROM rec
WHERE x > 0 OR rn % 25 = 0
ORDER BY priority, dn
"""


@declare(
    "q_croston_demand",
    oracle=QCROSTON_ORACLE,
    description="Croston intermittent-demand forecasting (α=1/2) of a thinned order series on a dense zero-filled 400-day calendar window per priority — demand-size and demand-interval states, bit-identical recursive-CTE replay; output sampled to demand days + every-25th zero day (forecasting [ext])",
)
def q_croston_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.sequential import croston

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): the calendar needs a
    # defined priority/date/key — a NULL-priority lane would zero-fill
    # in the kernel but never extend the oracle's equality-joined
    # recursion past its first row
    orders = orders.filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_orderdate").isNotNull()
        & F.col("o_orderkey").isNotNull()
    )
    dn_expr = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    # 400-day study window: Croston's behaviour is fully exercised in
    # ~400 periods, and the oracle's recursion depth stays bounded
    bounds = orders.agg(
        F.min(dn_expr).alias("d0"),
        F.least(F.max(dn_expr), F.min(dn_expr) + 399).alias("d1"),
    )
    pr = orders.select(F.col("o_orderpriority").alias("priority")).distinct()
    cal = (
        pr.crossJoin(F.broadcast(bounds))
        .select(
            "priority",
            F.explode(F.sequence(F.lit(0), F.col("d1") - F.col("d0"))).alias("i"),
            "d0",
        )
        .select("priority", (F.col("d0") + F.col("i")).cast("long").alias("dn"))
    )
    dem = (
        orders.filter(F.col("o_orderkey") % 50 == 0)
        .crossJoin(F.broadcast(bounds))
        .filter(dn_expr <= F.col("d1"))
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            dn_expr.cast("long").alias("dn"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    seq = cal.join(dem, ["priority", "dn"], "left").select(
        "priority", "dn", F.coalesce(F.col("x"), F.lit(0.0)).alias("x")
    )
    out = croston(seq, keys=["priority"], order_by=["dn"], value_col="x")
    # sample the (calendar-sized) output: every demand day + every
    # 25th zero day, so rows stay bounded while both update branches
    # stay visible to the hash check
    from pyspark.sql.window import Window

    w = Window.partitionBy("priority").orderBy("dn")
    out = out.withColumn("__rn", F.row_number().over(w))
    return (
        out.filter((F.col("x") > 0) | (F.col("__rn") % 25 == 0))
        .select(
            "priority",
            "dn",
            "x",
            F.round("z_hat", 6).alias("z_hat"),
            F.round("p_hat", 6).alias("p_hat"),
            F.round(F.col("z_hat") / F.col("p_hat"), 6).alias("forecast"),
        )
        .orderBy("priority", "dn")
    )


# ---------------------------------------------------------------------------
# Mann-Kendall.  Monthly grain keeps the pair fan-out month²-bounded.
# Var(S) = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18 over tie groups t.

QMK_ORACLE = """
WITH monthly AS (
  SELECT o_orderpriority AS priority,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT a.priority,
         CAST(SUM(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM monthly a JOIN monthly b
    ON a.priority = b.priority AND b.ym > a.ym
  GROUP BY a.priority
), n AS (
  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n FROM monthly GROUP BY priority
), ties AS (
  SELECT priority,
         CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
  FROM (
    SELECT priority, x, CAST(COUNT(*) AS BIGINT) AS t
    FROM monthly GROUP BY priority, x HAVING COUNT(*) > 1
  ) GROUP BY priority
), v AS (
  SELECT n.priority, n.n, COALESCE(t.tie_term, 0) AS tie_term,
         (CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
          - COALESCE(t.tie_term, 0)) / 18.0 AS var_s
  FROM n LEFT JOIN ties t USING (priority)
)
SELECT s.priority, v.n AS n_months, s.s_stat, ROUND(v.var_s, 6) AS var_s,
       ROUND(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt(v.var_s)
                  WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt(v.var_s)
                  ELSE 0.0 END, 6) AS z
FROM s JOIN v ON v.priority = s.priority
ORDER BY s.priority
"""


@declare(
    "q_mann_kendall",
    oracle=QMK_ORACLE,
    description="Mann-Kendall trend test on monthly order counts per priority: month²-bounded sign-pair fan-out, tie-corrected variance, continuity-corrected Z — the significance companion of Theil-Sen (nonparametric trend [ext])",
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("ym"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    monthly = monthly.localCheckpoint(eager=True)  # pairs + n + ties share it
    b = monthly.select(
        F.col("priority"), F.col("ym").alias("bym"), F.col("x").alias("bx")
    )
    s = (
        monthly.join(b, "priority")
        .filter(F.col("bym") > F.col("ym"))
        .groupBy("priority")
        .agg(
            F.sum(
                F.when(F.col("bx") > F.col("x"), 1)
                .when(F.col("bx") < F.col("x"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    n = monthly.groupBy("priority").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        monthly.groupBy("priority", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("priority")
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    v = n.join(ties, "priority", "left").select(
        "priority",
        "n",
        (
            (
                F.col("n").cast("double") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            )
            / 18.0
        ).alias("var_s"),
    )
    z = (
        F.when(
            F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(F.col("var_s"))
        )
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")))
        .otherwise(0.0)
    )
    return (
        s.join(v, "priority")
        .select(
            "priority",
            F.col("n").alias("n_months"),
            "s_stat",
            F.round("var_s", 6).alias("var_s"),
            F.round(z, 6).alias("z"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on daily revenue cents vs the exact median.

QRUNS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
), med AS (
  SELECT MIN(CASE WHEN cum * 2 >= n THEN v END) AS med
  FROM (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
        FROM (SELECT y AS v, COUNT(*) AS c FROM daily GROUP BY y))
), signs AS (
  SELECT d.d, CAST(d.y > m.med AS INT) AS sgn
  FROM daily d CROSS JOIN med m
  WHERE d.y <> m.med
), runs AS (
  SELECT sgn,
         CASE WHEN LAG(sgn) OVER (ORDER BY d) IS NULL
                OR LAG(sgn) OVER (ORDER BY d) <> sgn THEN 1 ELSE 0 END AS brk
  FROM signs
), agg AS (
  SELECT CAST(SUM(brk) AS BIGINT) AS r,
         CAST(SUM(sgn) AS BIGINT) AS n1,
         CAST(SUM(1 - sgn) AS BIGINT) AS n2
  FROM runs
)
SELECT r AS n_runs, n1, n2,
       ROUND(2.0 * n1 * n2 / (n1 + n2) + 1, 6) AS mu,
       ROUND((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1))),
             6) AS z
FROM agg
"""


@declare(
    "q_runs_test",
    oracle=QRUNS_ORACLE,
    description="Wald-Wolfowitz runs test of daily revenue (exact cents) vs its exact type-1 median: lag-window run breaks over the day-grain series, Z from integer n1/n2 (randomness diagnostics [ext])",
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): the day-grain series needs
    # a defined date and revenue — a NULL day sorts to opposite ends of
    # the two engines' lag axes
    orders = orders.filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y")
    )
    daily = daily.localCheckpoint(eager=True)  # median ECDF + signs share it
    cells = daily.groupBy(F.col("y").alias("v")).agg(F.count(F.lit(1)).alias("c"))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = cells.withColumn("cum", F.sum("c").over(wc)).withColumn(
        "n", F.sum("c").over(Window.partitionBy())
    )
    med = ecdf.agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))).alias("med")
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("y") != F.col("med"))
        .select("d", (F.col("y") > F.col("med")).cast("int").alias("sgn"))
    )
    w = Window.orderBy("d")
    runs = signs.withColumn(
        "brk",
        F.when(
            F.lag("sgn").over(w).isNull() | (F.lag("sgn").over(w) != F.col("sgn")),
            1,
        ).otherwise(0),
    )
    agg = runs.agg(
        F.sum("brk").cast("long").alias("r"),
        F.sum("sgn").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("sgn")).cast("long").alias("n2"),
    )
    nn = F.col("n1") + F.col("n2")
    mu = 2.0 * F.col("n1") * F.col("n2") / nn + 1
    sig = F.sqrt(
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
        / (nn.cast("double") * nn * (nn - 1))
    )
    return agg.select(
        F.col("r").alias("n_runs"),
        "n1",
        "n2",
        F.round(mu, 6).alias("mu"),
        F.round((F.col("r") - mu) / sig, 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# Fano factor / burstiness of hourly event arrivals per type.

QFANO_ORACLE = """
WITH hourly AS (
  SELECT event_type AS etype, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), g AS (
  SELECT etype, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(y AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS BIGINT) AS ss
  FROM hourly GROUP BY etype
)
SELECT etype, n AS n_hours,
       ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_rate,
       ROUND(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
             / (CAST(s AS DOUBLE) / n), 6) AS fano,
       ROUND((sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
              - CAST(s AS DOUBLE) / n)
             / (sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
                + CAST(s AS DOUBLE) / n), 6) AS burstiness
FROM g ORDER BY etype
"""


@declare(
    "q_fano_burstiness",
    oracle=QFANO_ORACLE,
    description="Fano factor (variance/mean of hourly arrival counts) and Kim-Jo burstiness (σ−μ)/(σ+μ) per event type — overdispersion diagnostics from one integer-moment pass (arrival processes [ext])",
)
def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    hourly = ev.groupBy(
        F.col("event_type").alias("etype"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    g = hourly.groupBy("etype").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")) / F.col("n")
    sd = F.sqrt(var)
    return g.select(
        "etype",
        F.col("n").alias("n_hours"),
        F.round(mean, 6).alias("mean_rate"),
        F.round(var / mean, 6).alias("fano"),
        F.round((sd - mean) / (sd + mean), 6).alias("burstiness"),
    ).orderBy("etype")


# ---------------------------------------------------------------------------
# Gumbel block-maxima fit.

QGUM_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
  FROM orders GROUP BY 1
), blocks AS (
  SELECT CAST(year(d) * 12 + month(d) AS BIGINT) AS ym,
         CAST(MAX(y) AS BIGINT) AS mx
  FROM daily GROUP BY 1
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(mx AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(mx AS HUGEINT) * CAST(mx AS HUGEINT)) AS DECIMAL(38,0))
           AS ss
  FROM blocks
), fit AS (
  SELECT n,
         CAST(s AS DOUBLE) / n / 100 AS m,
         sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
           / 100 AS sd
  FROM mom
)
SELECT n AS n_blocks,
       ROUND(m, 6) AS block_mean,
       ROUND(sd * sqrt(6.0) / 3.141592653589793, 6) AS beta,
       ROUND(m - 0.5772156649015329 * (sd * sqrt(6.0) / 3.141592653589793), 6)
         AS mu,
       ROUND((m - 0.5772156649015329 * (sd * sqrt(6.0) / 3.141592653589793))
             - (sd * sqrt(6.0) / 3.141592653589793) * ln(-ln(0.99)), 6)
         AS return_level_p99
FROM fit
"""


@declare(
    "q_gumbel_fit",
    oracle=QGUM_ORACLE,
    description="Gumbel (EV-I) method-of-moments fit of monthly block maxima of daily revenue (β = s√6/π, μ = m − γβ) + the p99 return level — distributed extreme-value theory via block-maxima collapse (EVT [ext])",
)
def q_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y")
    )
    blocks = daily.groupBy(
        (F.year("d") * 12 + F.month("d")).cast("long").alias("ym")
    ).agg(F.max("y").cast("long").alias("mx"))
    mom = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mx").cast("long").alias("s"),
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx")).alias("ss"),
    )
    m = F.col("s").cast("double") / F.col("n") / 100
    sd = (
        F.sqrt(
            (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        )
        / 100
    )
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(3.141592653589793)
    mu = m - F.lit(0.5772156649015329) * beta
    return mom.select(
        F.col("n").alias("n_blocks"),
        F.round(m, 6).alias("block_mean"),
        F.round(beta, 6).alias("beta"),
        F.round(mu, 6).alias("mu"),
        F.round(mu - beta * F.log(-F.log(F.lit(0.99))), 6).alias(
            "return_level_p99"
        ),
    )


# ---------------------------------------------------------------------------
# Single-frequency DFT power at the weekly frequency + two
# non-harmonic controls.  Demeaned integer-day series; per-term
# trig values rounded to 10, products rounded to 4 and decimal-summed
# (order-free); power reported as amplitude in dollars.

_DFT_FREQS = (7, 11, 13)


def _dft_sql_branch(p: int) -> str:
    ang = f"2 * 3.141592653589793 * dn / {p}.0"
    return f"""
  SELECT '1/{p}' AS freq, {p} AS period,
         CAST(SUM(CAST(ROUND(yd * ROUND(cos({ang}), 10), 4)
              AS DECIMAL(38,6))) AS DOUBLE) AS cs,
         CAST(SUM(CAST(ROUND(yd * ROUND(sin({ang}), 10), 4)
              AS DECIMAL(38,6))) AS DOUBLE) AS sn,
         CAST(COUNT(*) AS BIGINT) AS nd
  FROM demeaned"""


QDFT_ORACLE = (
    """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dn,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
  FROM orders GROUP BY 1
), mean_y AS (
  SELECT CAST(SUM(CAST(y AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS m
  FROM daily
), demeaned AS (
  SELECT dn, y - m AS yd FROM daily CROSS JOIN mean_y
), branches AS ("""
    + "\n  UNION ALL".join(_dft_sql_branch(p) for p in _DFT_FREQS)
    + """
)
SELECT freq, CAST(period AS BIGINT) AS period,
       ROUND(2.0 * sqrt(cs * cs + sn * sn) / nd, 6) AS amplitude
FROM branches ORDER BY period
"""
)


@declare(
    "q_dft_weekly_power",
    oracle=QDFT_ORACLE,
    description="Single-frequency DFT amplitude (Goertzel shape — one pass, rounded-addend decimal Σy·cos/Σy·sin) of demeaned daily revenue at the weekly frequency vs two non-harmonic controls — seasonality detection without an FFT (spectral [ext])",
)
def q_dft_weekly_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("dn")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("y")
    )
    mean_y = daily.agg(
        (F.sum(F.col("y").cast("decimal(28,2)")).cast("double") / F.count(F.lit(1))).alias(
            "m"
        )
    )
    demeaned = daily.crossJoin(F.broadcast(mean_y)).select(
        "dn", (F.col("y") - F.col("m")).alias("yd")
    )
    demeaned = demeaned.localCheckpoint(eager=True)  # one branch per freq
    out = None
    for p in _DFT_FREQS:
        ang = 2 * 3.141592653589793 * F.col("dn") / float(p)
        branch = demeaned.agg(
            F.sum(
                F.round(F.col("yd") * F.round(F.cos(ang), 10), 4).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("cs"),
            F.sum(
                F.round(F.col("yd") * F.round(F.sin(ang), 10), 4).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("sn"),
            F.count(F.lit(1)).cast("long").alias("nd"),
        ).select(
            F.lit(f"1/{p}").alias("freq"),
            F.lit(p).cast("long").alias("period"),
            F.round(
                2.0
                * F.sqrt(F.col("cs") * F.col("cs") + F.col("sn") * F.col("sn"))
                / F.col("nd"),
                6,
            ).alias("amplitude"),
        )
        out = branch if out is None else out.unionByName(branch)
    return out.orderBy("period")


# ---------------------------------------------------------------------------
# Hurst R/S.

_HURST_SIZES = (8, 16, 32)


def _hurst_sql_branch(b: int) -> str:
    return f"""
  SELECT {b} AS b, bid,
         MAX(cx - rn * mu) - MIN(cx - rn * mu) AS r,
         sqrt((CAST(MAX(ssq) AS DOUBLE) - CAST(MAX(sx) AS DOUBLE) * MAX(sx) / {b})
              / {b}) AS s
  FROM (
    SELECT (rn0 - 1) // {b} AS bid,
           ((rn0 - 1) % {b}) + 1 AS rn,
           SUM(y) OVER (PARTITION BY (rn0 - 1) // {b} ORDER BY rn0) AS cx,
           SUM(y) OVER (PARTITION BY (rn0 - 1) // {b}) AS sx,
           SUM(CAST(y AS HUGEINT) * y) OVER (PARTITION BY (rn0 - 1) // {b}) AS ssq,
           CAST(SUM(y) OVER (PARTITION BY (rn0 - 1) // {b}) AS DOUBLE) / {b} AS mu,
           COUNT(*) OVER (PARTITION BY (rn0 - 1) // {b}) AS bn
    FROM seq
  ) WHERE bn = {b}
  GROUP BY bid"""


QHURST_ORACLE = (
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
), seq AS (
  SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn0, y FROM daily
), blocks AS ("""
    + "\n  UNION ALL".join(_hurst_sql_branch(b) for b in _HURST_SIZES)
    + """
), per_size AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(ROUND(ln(r / s), 10) AS DECIMAL(28,12))) AS DOUBLE)
           / COUNT(*) AS mean_ln_rs
  FROM blocks WHERE s > 0 AND r > 0
  GROUP BY b
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         SUM(ln(CAST(b AS DOUBLE))) AS sx,
         SUM(mean_ln_rs) AS sy,
         SUM(ln(CAST(b AS DOUBLE)) * mean_ln_rs) AS sxy,
         SUM(ln(CAST(b AS DOUBLE)) * ln(CAST(b AS DOUBLE))) AS sxx
  FROM per_size
)
SELECT p.b AS block_size, p.n_blocks, ROUND(p.mean_ln_rs, 6) AS mean_ln_rs,
       ROUND((f.np * f.sxy - f.sx * f.sy) / (f.np * f.sxx - f.sx * f.sx), 6)
         AS hurst
FROM per_size p CROSS JOIN fit f
ORDER BY block_size
"""
)


@declare(
    "q_hurst_rs",
    oracle=QHURST_ORACLE,
    description="Rescaled-range Hurst exponent of daily revenue: integer-cumsum cumulative deviations (no float accumulation), per-block R/S over sizes {8,16,32}, 3-point log-log slope (long-memory diagnostics [ext])",
)
def q_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): the day series needs a
    # defined date and revenue — a NULL day would shift every block
    orders = orders.filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y")
    )
    seq = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("rn0"), "y"
    )
    seq = seq.localCheckpoint(eager=True)  # one branch per block size
    per_size = None
    for b in _HURST_SIZES:
        bid = ((F.col("rn0") - 1) / b).cast("long")
        wcum = Window.partitionBy(bid.alias("bid")).orderBy("rn0")
        # re-express: assign bid/rn as columns first
        s0 = seq.select(
            ((F.col("rn0") - 1) / b).cast("long").alias("bid"),
            ((F.col("rn0") - 1) % b + 1).alias("rn"),
            "rn0",
            "y",
        )
        wb = Window.partitionBy("bid")
        wc = Window.partitionBy("bid").orderBy("rn0")
        enriched = (
            s0.withColumn("cx", F.sum("y").over(wc))
            .withColumn("sx", F.sum("y").over(wb))
            .withColumn(
                "ssq", F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).over(wb)
            )
            .withColumn("mu", F.col("sx").cast("double") / b)
            .withColumn("bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("bn") == b)
        )
        blocks = enriched.groupBy("bid").agg(
            (
                F.max(F.col("cx") - F.col("rn") * F.col("mu"))
                - F.min(F.col("cx") - F.col("rn") * F.col("mu"))
            ).alias("r"),
            F.sqrt(
                (
                    F.max("ssq").cast("double")
                    - F.max("sx").cast("double") * F.max("sx") / b
                )
                / b
            ).alias("s"),
        )
        branch = (
            blocks.filter((F.col("s") > 0) & (F.col("r") > 0))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_blocks"),
                (
                    F.sum(
                        F.round(F.log(F.col("r") / F.col("s")), 10).cast(
                            "decimal(28,12)"
                        )
                    ).cast("double")
                    / F.count(F.lit(1))
                ).alias("mean_ln_rs"),
            )
            .select(F.lit(b).alias("b"), "n_blocks", "mean_ln_rs")
        )
        per_size = branch if per_size is None else per_size.unionByName(branch)
    per_size = per_size.localCheckpoint(eager=True)  # fit + output share it
    fit = per_size.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum(F.log(F.col("b").cast("double"))).alias("sx"),
        F.sum("mean_ln_rs").alias("sy"),
        F.sum(F.log(F.col("b").cast("double")) * F.col("mean_ln_rs")).alias("sxy"),
        F.sum(
            F.log(F.col("b").cast("double")) * F.log(F.col("b").cast("double"))
        ).alias("sxx"),
    )
    return (
        per_size.crossJoin(F.broadcast(fit))
        .select(
            F.col("b").cast("long").alias("block_size"),
            "n_blocks",
            F.round("mean_ln_rs", 6).alias("mean_ln_rs"),
            F.round(
                (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6,
            ).alias("hurst"),
        )
        .orderBy("block_size")
    )


# ---------------------------------------------------------------------------
# Ljung-Box over per-lag Pearson autocorrelations (lags 1..5).

QLB_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS dn,
         COUNT(*) AS cnt
  FROM orders GROUP BY 1
), n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 6)),
pairs AS (
  SELECT l.lag, CAST(a.cnt AS DECIMAL(18,0)) AS x, CAST(b.cnt AS DECIMAL(18,0)) AS y
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON b.dn = a.dn + l.lag
), s AS (
  SELECT lag, COUNT(*) AS np,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy
  FROM pairs GROUP BY lag
), r AS (
  SELECT lag,
         ROUND((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / SQRT((CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 10) AS rk
  FROM s
)
SELECT n_tot.n AS n_days, CAST(5 AS BIGINT) AS n_lags,
       ROUND(n_tot.n * (n_tot.n + 2.0)
             * CAST(SUM(CAST(ROUND(rk * rk / (n_tot.n - lag), 12)
                   AS DECIMAL(18,14))) AS DOUBLE), 6) AS q_stat
FROM r CROSS JOIN n_tot
GROUP BY n_tot.n
"""


@declare(
    "q_ljung_box",
    oracle=QLB_ORACLE,
    description="Ljung-Box portmanteau Q over lags 1-5 of the daily order-count series (Pearson per-lag ACF variant, rounded-addend decimal pooling) — the significance pool of q_autocorr_lags (time-series diagnostics [ext])",
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("dn")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    daily = daily.localCheckpoint(eager=True)  # 5 lag joins + n share it
    n_tot = daily.count()  # driver scalar: one long (series length)
    b = daily.select(F.col("dn").alias("bdn"), F.col("cnt").alias("bcnt"))
    out = None
    for lag in range(1, 6):
        pairs = daily.join(b, F.col("bdn") == F.col("dn") + lag).select(
            F.col("cnt").cast("decimal(18,0)").alias("x"),
            F.col("bcnt").cast("decimal(18,0)").alias("y"),
        )
        s = pairs.agg(
            F.count(F.lit(1)).alias("np"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        rk = F.round(
            (
                F.col("np").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / F.sqrt(
                (
                    F.col("np").cast("double") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                * (
                    F.col("np").cast("double") * F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy").cast("double")
                )
            ),
            10,
        )
        branch = s.select(F.lit(lag).alias("lag"), rk.alias("rk"))
        out = branch if out is None else out.unionByName(branch)
    q = out.agg(
        F.round(
            F.lit(float(n_tot))
            * (n_tot + 2.0)
            * F.sum(
                F.round(
                    F.col("rk") * F.col("rk") / (F.lit(n_tot) - F.col("lag")), 12
                ).cast("decimal(18,14)")
            ).cast("double"),
            6,
        ).alias("q_stat")
    )
    return q.select(
        F.lit(n_tot).cast("long").alias("n_days"),
        F.lit(5).cast("long").alias("n_lags"),
        "q_stat",
    )


QABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS r
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT pk, r,
         SUM(r) OVER (ORDER BY r DESC, pk) AS cum,
         SUM(r) OVER () AS tot
  FROM rev
), abc AS (
  SELECT pk, r,
         CASE WHEN CAST(cum AS DOUBLE) / tot <= 0.80 THEN 'A'
              WHEN CAST(cum AS DOUBLE) / tot <= 0.95 THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
), weekly AS (
  SELECT l_partkey AS pk, date_trunc('week', CAST(l_shipdate AS TIMESTAMP)) AS w,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), cv AS (
  SELECT pk,
         CASE WHEN COUNT(*) < 2 OR SUM(q) = 0 THEN 0.0
              ELSE sqrt((CAST(SUM(CAST(q AS HUGEINT) * q) AS DOUBLE)
                         - CAST(SUM(q) AS DOUBLE) * SUM(q) / COUNT(*))
                        / (COUNT(*) - 1))
                   / (CAST(SUM(q) AS DOUBLE) / COUNT(*)) END AS cv
  FROM weekly GROUP BY pk
), xyz AS (
  SELECT pk, CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz
  FROM cv
), tot AS (SELECT CAST(SUM(r) AS DECIMAL(38,0)) AS tr FROM rev)
SELECT a.abc, x.xyz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(CAST(SUM(CAST(a.r AS HUGEINT)) AS DOUBLE) / MIN(t.tr), 6)
         AS revenue_share
FROM abc a JOIN xyz x USING (pk) CROSS JOIN tot t
GROUP BY a.abc, x.xyz
ORDER BY a.abc, x.xyz
"""


@declare(
    "q_abc_xyz",
    oracle=QABC_ORACLE,
    description="ABC-XYZ inventory segmentation: revenue-Pareto classes via the chunked distributed prefix sum (no single-partition window) × weekly-demand-CV classes; per-cell part counts and revenue share (supply chain [ext])",
)
def q_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import partitioned_prefix_sum

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("r")
    )
    rev = rev.localCheckpoint(eager=True)  # prefix sum + total + rollup
    # composite ascending sort key ≡ (revenue DESC, pk ASC); revenue
    # cents < 1e11 and partkey < 1e7 at any test SF → fits a long
    keyed = rev.withColumn(
        "__sk", (-F.col("r")) * F.lit(10_000_000) + F.col("pk")
    )
    cum = partitioned_prefix_sum(keyed, "__sk", "r", out_col="cum")
    tot = rev.agg(F.sum("r").cast("decimal(38,0)").alias("tr"))
    abc = cum.crossJoin(F.broadcast(tot)).select(
        "pk",
        "r",
        F.when(F.col("cum").cast("double") / F.col("tr").cast("double") <= 0.80, "A")
        .when(F.col("cum").cast("double") / F.col("tr").cast("double") <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    weekly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("week", F.col("l_shipdate")).alias("w"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    cv_expr = (
        F.when((F.count(F.lit(1)) < 2) | (F.sum("q") == 0), F.lit(0.0)).otherwise(
            F.sqrt(
                (
                    F.sum(F.col("q") * F.col("q")).cast("double")
                    - F.sum("q").cast("double") * F.sum("q") / F.count(F.lit(1))
                )
                / (F.count(F.lit(1)) - 1)
            )
            / (F.sum("q").cast("double") / F.count(F.lit(1)))
        )
    )
    xyz = weekly.groupBy("pk").agg(cv_expr.alias("cv")).select(
        "pk",
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        abc.join(xyz, "pk")
        .crossJoin(F.broadcast(tot))
        .groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(
                F.sum("r").cast("double") / F.min("tr").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc", "xyz")
    )


QSS_ORACLE = """
WITH daily AS (
  SELECT p.p_name AS product, CAST(l.l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
), g AS (
  SELECT product, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(q AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(q AS HUGEINT) * q) AS BIGINT) AS ss
  FROM daily GROUP BY product
)
SELECT product, n_days,
       ROUND(CAST(s AS DOUBLE) / n_days, 6) AS mean_daily,
       ROUND(CASE WHEN n_days < 2 THEN 0.0
             ELSE sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days)
                       / (n_days - 1)) END, 6) AS sigma_daily,
       ROUND(1.645 * (CASE WHEN n_days < 2 THEN 0.0
             ELSE sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days)
                       / (n_days - 1)) END) * sqrt(7.0), 6) AS safety_stock,
       ROUND(CAST(s AS DOUBLE) / n_days * 7
             + 1.645 * (CASE WHEN n_days < 2 THEN 0.0
               ELSE sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days)
                         / (n_days - 1)) END) * sqrt(7.0), 6) AS reorder_point
FROM g ORDER BY product
"""


@declare(
    "q_safety_stock",
    oracle=QSS_ORACLE,
    description="Safety stock z·σ_d·√LT (z=1.645, LT=7) and reorder point μ_d·LT+SS per product name, from exact integer daily-demand moments (supply chain [ext])",
)
def q_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"], t["part"]
    daily = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_name").alias("product"),
            F.col("l_shipdate").cast("date").alias("d"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    )
    g = daily.groupBy("product").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_days")
    sigma = F.when(F.col("n_days") < 2, F.lit(0.0)).otherwise(
        F.sqrt(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n_days")
            )
            / (F.col("n_days") - 1)
        )
    )
    ss = F.lit(1.645) * sigma * F.sqrt(F.lit(7.0))
    return g.select(
        "product",
        "n_days",
        F.round(mean, 6).alias("mean_daily"),
        F.round(sigma, 6).alias("sigma_daily"),
        F.round(ss, 6).alias("safety_stock"),
        F.round(mean * 7 + ss, 6).alias("reorder_point"),
    ).orderBy("product")


QCPK_ORACLE = """
WITH g AS (
  SELECT l_linestatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
              AS BIGINT) AS ss
  FROM lineitem GROUP BY l_linestatus
), fit AS (
  SELECT status, n, CAST(s AS DOUBLE) / n AS mu,
         sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS sd
  FROM g
)
SELECT status, n, ROUND(mu, 6) AS mean_qty, ROUND(sd, 6) AS sd_qty,
       ROUND((50.0 - 1.0) / (6 * sd), 6) AS cp,
       ROUND(LEAST((50.0 - mu) / (3 * sd), (mu - 1.0) / (3 * sd)), 6) AS cpk
FROM fit ORDER BY status
"""


@declare(
    "q_process_capability",
    oracle=QCPK_ORACLE,
    description="Process capability Cp/Cpk of quantity per linestatus against fixed spec limits [1, 50], exact integer moments (SPC [ext])",
)
def q_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    q = F.col("l_quantity").cast("long")
    g = li.groupBy(F.col("l_linestatus").alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("s"),
        F.sum(q * q).cast("long").alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    return g.select(
        "status",
        "n",
        F.round(mu, 6).alias("mean_qty"),
        F.round(sd, 6).alias("sd_qty"),
        F.round((F.lit(50.0) - 1.0) / (6 * sd), 6).alias("cp"),
        F.round(
            F.least((F.lit(50.0) - mu) / (3 * sd), (mu - F.lit(1.0)) / (3 * sd)), 6
        ).alias("cpk"),
    ).orderBy("status")


# A2/D3/D4 for subgroup size n=5 (published Shewhart constants).
_A2, _D3, _D4 = 0.577, 0.0, 2.114

QXBAR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY 1
), sub AS (
  SELECT date_diff('day', DATE '1970-01-01', d) // 5 AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s,
         CAST(MAX(y) - MIN(y) AS BIGINT) AS r
  FROM daily GROUP BY 1
  HAVING COUNT(*) = 5
), lines AS (
  SELECT CAST(SUM(CAST(s AS DECIMAL(28,0))) AS DOUBLE) / SUM(n) AS xbar_bar,
         CAST(SUM(CAST(r AS DECIMAL(28,0))) AS DOUBLE) / COUNT(*) AS r_bar,
         CAST(COUNT(*) AS BIGINT) AS n_subgroups
  FROM sub
), lim AS (
  SELECT n_subgroups, xbar_bar, r_bar,
         xbar_bar + {_A2} * r_bar AS ucl_x, xbar_bar - {_A2} * r_bar AS lcl_x,
         {_D4} * r_bar AS ucl_r, {_D3} * r_bar AS lcl_r
  FROM lines
)
SELECT l.n_subgroups,
       ROUND(l.xbar_bar, 6) AS xbar_bar, ROUND(l.r_bar, 6) AS r_bar,
       ROUND(l.ucl_x, 6) AS ucl_x, ROUND(l.lcl_x, 6) AS lcl_x,
       ROUND(l.ucl_r, 6) AS ucl_r,
       CAST(SUM(CASE WHEN CAST(s.s AS DOUBLE) / s.n > l.ucl_x
                  OR CAST(s.s AS DOUBLE) / s.n < l.lcl_x THEN 1 ELSE 0 END)
            AS BIGINT) AS n_out_of_control_x,
       CAST(SUM(CASE WHEN CAST(s.r AS DOUBLE) > l.ucl_r THEN 1 ELSE 0 END)
            AS BIGINT) AS n_out_of_control_r
FROM sub s CROSS JOIN lim l
GROUP BY l.n_subgroups, l.xbar_bar, l.r_bar, l.ucl_x, l.lcl_x, l.ucl_r
"""


@declare(
    "q_xbar_r_chart",
    oracle=QXBAR_ORACLE,
    description="X-bar/R control chart over 5-day subgroups of daily order counts: center lines, A2/D3/D4 limits (published n=5 constants), out-of-control counts — Shewhart SPC from two keyed aggs (SPC [ext])",
)
def q_xbar_r_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    grp = (
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) / 5
    ).cast("long")
    sub = (
        daily.groupBy(grp.alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("s"),
            (F.max("y") - F.min("y")).cast("long").alias("r"),
        )
        .filter(F.col("n") == 5)
    )
    sub = sub.localCheckpoint(eager=True)  # lines + flags share it
    lines = sub.agg(
        (F.sum(F.col("s").cast("decimal(28,0)")).cast("double") / F.sum("n")).alias(
            "xbar_bar"
        ),
        (
            F.sum(F.col("r").cast("decimal(28,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("r_bar"),
        F.count(F.lit(1)).cast("long").alias("n_subgroups"),
    )
    lim = lines.select(
        "n_subgroups",
        "xbar_bar",
        "r_bar",
        (F.col("xbar_bar") + _A2 * F.col("r_bar")).alias("ucl_x"),
        (F.col("xbar_bar") - _A2 * F.col("r_bar")).alias("lcl_x"),
        (F.lit(_D4) * F.col("r_bar")).alias("ucl_r"),
    )
    joined = sub.crossJoin(F.broadcast(lim))
    xmean = F.col("s").cast("double") / F.col("n")
    return joined.groupBy(
        "n_subgroups", "xbar_bar", "r_bar", "ucl_x", "lcl_x", "ucl_r"
    ).agg(
        F.sum(
            ((xmean > F.col("ucl_x")) | (xmean < F.col("lcl_x"))).cast("int")
        )
        .cast("long")
        .alias("n_out_of_control_x"),
        F.sum((F.col("r").cast("double") > F.col("ucl_r")).cast("int"))
        .cast("long")
        .alias("n_out_of_control_r"),
    ).select(
        "n_subgroups",
        F.round("xbar_bar", 6).alias("xbar_bar"),
        F.round("r_bar", 6).alias("r_bar"),
        F.round("ucl_x", 6).alias("ucl_x"),
        F.round("lcl_x", 6).alias("lcl_x"),
        F.round("ucl_r", 6).alias("ucl_r"),
        "n_out_of_control_x",
        "n_out_of_control_r",
    )


QSEAS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         (date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 4) % 7
           AS dow,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
), g AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(y AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS ss
  FROM daily GROUP BY dow
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(s AS HUGEINT)) AS BIGINT) AS st,
         CAST(SUM(ss) AS DECIMAL(38,0)) AS sst,
         CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n, 4) AS DECIMAL(38,6)))
              AS DOUBLE) AS sq_over_n
  FROM g
)
SELECT nn AS n_days,
       ROUND((sq_over_n - CAST(st AS DOUBLE) * st / nn)
             / (CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * st / nn), 6)
         AS seasonal_strength
FROM tot
"""


@declare(
    "q_seasonal_strength",
    oracle=QSEAS_ORACLE,
    description="Hyndman-style seasonal strength of daily revenue: variance share explained by the day-of-week profile (SSB/SST from exact cents moments) — the forecastability diagnostic ahead of Holt-Winters (time series [ext])",
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    dn = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        ((dn + 4) % 7).alias("dow"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y")
    )
    g = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("ss"),
    )
    sq_over_n = F.round(
        F.col("s").cast("double") * F.col("s") / F.col("n"), 4
    ).cast("decimal(38,6)")
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").alias("sst"),
        F.sum(sq_over_n).cast("double").alias("sq_over_n"),
    )
    ssb = F.col("sq_over_n") - F.col("st").cast("double") * F.col("st") / F.col("nn")
    sst = F.col("sst").cast("double") - F.col("st").cast("double") * F.col("st") / F.col("nn")
    return tot.select(
        F.col("nn").alias("n_days"),
        F.round(ssb / sst, 6).alias("seasonal_strength"),
    )


QDC_ORACLE = """
WITH daily AS (
  SELECT p.p_name AS product, CAST(l.l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
), g AS (
  SELECT product, CAST(COUNT(*) AS BIGINT) AS n_demand_days,
         date_diff('day', MIN(d), MAX(d)) + 1 AS span_days,
         CAST(SUM(CAST(q AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(q AS HUGEINT) * q) AS BIGINT) AS ss
  FROM daily GROUP BY product
), fit AS (
  SELECT product,
         CAST(span_days AS DOUBLE) / n_demand_days AS adi,
         CASE WHEN n_demand_days < 2 THEN 0.0
              ELSE ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_demand_days)
                    / (n_demand_days - 1))
                   / ((CAST(s AS DOUBLE) / n_demand_days)
                      * (CAST(s AS DOUBLE) / n_demand_days)) END AS cv2
  FROM g
), classed AS (
  SELECT CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
              WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
              WHEN adi < 1.32 THEN 'erratic'
              ELSE 'lumpy' END AS demand_class,
         adi, cv2
  FROM fit
)
SELECT demand_class, CAST(COUNT(*) AS BIGINT) AS n_products,
       ROUND(CAST(SUM(CAST(ROUND(adi, 8) AS DECIMAL(28,10))) AS DOUBLE)
             / COUNT(*), 6) AS mean_adi,
       ROUND(CAST(SUM(CAST(ROUND(cv2, 8) AS DECIMAL(28,10))) AS DOUBLE)
             / COUNT(*), 6) AS mean_cv2
FROM classed GROUP BY demand_class ORDER BY demand_class
"""


@declare(
    "q_demand_classification",
    oracle=QDC_ORACLE,
    description="Syntetos-Boylan demand-pattern classification per product (ADI × CV² at the published 1.32/0.49 cuts → smooth/intermittent/erratic/lumpy) — the routing decision in front of Croston vs exponential smoothing (supply chain [ext])",
)
def q_demand_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"], t["part"]
    daily = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_name").alias("product"),
            F.col("l_shipdate").cast("date").alias("d"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    )
    g = daily.groupBy("product").agg(
        F.count(F.lit(1)).cast("long").alias("n_demand_days"),
        (F.datediff(F.max("d"), F.min("d")) + 1).alias("span_days"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("ss"),
    )
    adi = F.col("span_days").cast("double") / F.col("n_demand_days")
    mean_q = F.col("s").cast("double") / F.col("n_demand_days")
    cv2 = F.when(F.col("n_demand_days") < 2, F.lit(0.0)).otherwise(
        (
            (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n_demand_days"))
            / (F.col("n_demand_days") - 1)
        )
        / (mean_q * mean_q)
    )
    classed = g.select(
        F.when((adi < 1.32) & (cv2 < 0.49), "smooth")
        .when((adi >= 1.32) & (cv2 < 0.49), "intermittent")
        .when(adi < 1.32, "erratic")
        .otherwise("lumpy")
        .alias("demand_class"),
        adi.alias("adi"),
        cv2.alias("cv2"),
    )
    return (
        classed.groupBy("demand_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_products"),
            F.round(
                F.sum(F.round(F.col("adi"), 8).cast("decimal(28,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_adi"),
            F.round(
                F.sum(F.round(F.col("cv2"), 8).cast("decimal(28,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_cv2"),
        )
        .orderBy("demand_class")
    )


QDTWM_ORACLE = """
WITH RECURSIVE monthly AS (
  SELECT o_orderpriority AS p, STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m') AS m,
         COUNT(*) AS y
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT p, CAST(y AS DOUBLE) AS y,
         ROW_NUMBER() OVER (PARTITION BY p ORDER BY m) AS i,
         COUNT(*) OVER (PARTITION BY p) AS n
  FROM monthly
), pr AS (
  SELECT a.p AS ka, b.p AS kb, a.n AS na, b.n AS nb,
         GREATEST(7, ABS(a.n - b.n)) AS w
  FROM (SELECT DISTINCT p, n FROM s) a
  JOIN (SELECT DISTINCT p, n FROM s) b ON a.p < b.p
), dp AS (
  SELECT pr.ka, pr.kb, 0 AS age, 1 AS i, 1 AS j, ABS(xa.y - xb.y) AS acc
  FROM pr
  JOIN s xa ON xa.p = pr.ka AND xa.i = 1
  JOIN s xb ON xb.p = pr.kb AND xb.i = 1
  UNION ALL
  SELECT c.ka, c.kb, c.age, c.i, c.j,
         MIN(c.pred + CASE WHEN c.age = 0 THEN ABS(xa.y - xb.y) ELSE 0 END)
  FROM (
    SELECT d.ka, d.kb,
           struct_extract(u.t, 'age') AS age,
           struct_extract(u.t, 'i') AS i,
           struct_extract(u.t, 'j') AS j,
           d.acc AS pred
    FROM dp d,
      UNNEST(CASE WHEN d.age = 0 THEN [
               struct_pack(age := 1, i := d.i, j := d.j),
               struct_pack(age := 0, i := d.i + 1, j := d.j),
               struct_pack(age := 0, i := d.i, j := d.j + 1)]
             ELSE [struct_pack(age := 0, i := d.i + 1, j := d.j + 1)] END
      ) AS u(t)
  ) c
  JOIN pr p2 ON p2.ka = c.ka AND p2.kb = c.kb
  LEFT JOIN s xa ON c.age = 0 AND xa.p = c.ka AND xa.i = c.i
  LEFT JOIN s xb ON c.age = 0 AND xb.p = c.kb AND xb.i = c.j
  WHERE c.age = 1
     OR (c.i <= p2.na AND c.j <= p2.nb AND ABS(c.i - c.j) <= p2.w)
  GROUP BY c.ka, c.kb, c.age, c.i, c.j
)
SELECT d.ka AS key_a, d.kb AS key_b, p2.na AS n_a, p2.nb AS n_b,
       CAST(d.acc AS DOUBLE) AS dtw
FROM dp d JOIN pr p2 ON p2.ka = d.ka AND p2.kb = d.kb
WHERE d.age = 0 AND d.i = p2.na AND d.j = p2.nb
ORDER BY key_a, key_b
"""


@declare(
    "q_dtw_monthly_pairs",
    oracle=QDTWM_ORACLE,
    description="banded DTW distance between monthly order-count series of every priority pair — the fully hash-checked twin of q_dtw_priority_pairs: same applyInPandas DP, monthly grain keeps the DuckDB anti-diagonal recursive-CTE oracle ~170 iterations deep (time-series similarity [ext])",
)
def q_dtw_monthly_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.sequential import dtw_distance_pairs

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("m"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    out = dtw_distance_pairs(monthly, "priority", "m", "y", band=7)
    return out.orderBy("key_a", "key_b")
