"""Relational declared queries: the TPC-H set (Q1-Q22 over the fixture's
tables), SQL-surface palettes (grouping sets, windows, collect, pivot,
string/date/math functions) and the join/layout operators (bucketed,
salted, shuffle-hash, null-safe, range, bloom, skyline, z-order).

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.operators.relational import exact_quantiles_bucketed
from jibaro_spark.operators.util import ensure_parallelism
from jibaro_spark.queries.registry import (
    _DEC,
    _REV_SQL,
    _d,
    davg,
    declare,
    dsum,
    load_tables,
)


# --------------------------------------------------------------------------
# Q1 — pricing summary (flagship: filter → groupBy → 8 aggs → sort).
# Spark plan: parquet scan with pushed l_shipdate filter + column pruning →
# partial hash agg → shuffle on 2 low-cardinality keys → final agg. No join.
# --------------------------------------------------------------------------
Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  -- product sums rescale to 4 decimals BEFORE the double cast (skew
  -- sweep r10): the decimal sums are bit-identical cross-engine, but
  -- casting a scale-8/12 decimal to double is double-rounded in DuckDB
  -- (int128→double, then ×10⁻ˢ) vs correctly rounded in the JVM — 1 ulp
  -- apart at 5e9 magnitude; at scale 4 the scaled integer fits 2^53 and
  -- both casts are exact.  ROUND (half away from zero = Spark's
  -- HALF_UP decimal rescale on this positive domain), NOT a decimal
  -- downcast, which DuckDB TRUNCATES
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * (1 + CAST(l_tax AS DECIMAL(18,4)))), 4) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@declare("q1_pricing_summary", oracle=Q1_ORACLE, description="TPC-H Q1: filter+groupBy+multi-agg+sort (A9,P4,O1)")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem")
    disc_price = _d("l_extendedprice") * (F.lit(1) - _d("l_discount"))
    charge = disc_price * (F.lit(1) + _d("l_tax"))
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            # rescale to (38,4) before the double cast — see Q1_ORACLE
            # comment (decimal→double is engine-dependent at scale > ~6)
            F.sum(disc_price).cast("decimal(38,4)").cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("decimal(38,4)").cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Q3 — shipping priority: 3-way join, agg, top-10.
# customer is small → broadcast; orders⋈lineitem shuffles on o_orderkey.
# --------------------------------------------------------------------------
Q3_ORACLE = """
SELECT
  l_orderkey,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@declare("q3_shipping_priority", oracle=Q3_ORACLE, description="TPC-H Q3: broadcast dim join + fact shuffle join + top-k (J1,J2,A9)")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    revenue = _d("l_extendedprice") * (F.lit(1) - _d("l_discount"))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q5-ish — revenue by nation: 5-way join with broadcast dimension chain.
# --------------------------------------------------------------------------
Q5_ORACLE = """
SELECT
  n_name,
  -- ROUND 4 before the double cast: per-nation sums reach 2e8 at sf0.1,
  -- where scale-8 decimal->double is double-rounded in DuckDB (see Q1)
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@declare("q5_revenue_by_nation", oracle=Q5_ORACLE, description="TPC-H Q5-ish: multi-join star query, broadcast dims (J1,J2,A9)")
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem", "nation", "region")
    revenue = _d("l_extendedprice") * (F.lit(1) - _d("l_discount"))
    asia = t["region"].filter(F.col("r_name") == "ASIA")
    dims = (
        t["nation"]
        .join(F.broadcast(asia), t["nation"].n_regionkey == asia.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    cust = (
        t["customer"]
        .join(F.broadcast(dims), t["customer"].c_nationkey == dims.n_nationkey)
        .select("c_custkey", "n_name")
    )
    return (
        t["orders"]
        .join(F.broadcast(cust), t["orders"].o_custkey == cust.c_custkey)
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("decimal(38,4)").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# --------------------------------------------------------------------------
# Q6 — forecast revenue: pure scan-filter-agg; everything pushes down.
# --------------------------------------------------------------------------
Q6_ORACLE = """
SELECT
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
  COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@declare("q6_forecast_revenue", oracle=Q6_ORACLE, description="TPC-H Q6: pushdown filter + global agg (P4,A9)")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # literals cast to timestamp_ntz to match the column type exactly
    # (UTC session tz makes LTZ equivalent, but ntz needs no conversion)
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_d("l_extendedprice") * _d("l_discount")).cast("decimal(38,4)").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Q4-ish — semi-join (EXISTS): orders with at least one late lineitem.
# --------------------------------------------------------------------------
Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@declare("q4_order_priority", oracle=Q4_ORACLE, description="TPC-H Q4: left-semi join / EXISTS (J1 semi)")
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    orders = t["orders"].filter(
        # 1996: fixture dates span 1995-2001; a 1994 filter is vacuous
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Anti-join: customers with no orders (J1 anti).
# --------------------------------------------------------------------------
# Every fixture customer has at least one order, so the plain "no
# orders" anti-join is vacuous; anti-join against HIGH-VALUE orders
# instead (57 rows at sf0.001, 538 at sf0.01).
QANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
ORDER BY c_custkey
"""


@declare("q_customers_no_orders", oracle=QANTI_ORACLE, description="left-anti join / NOT EXISTS (J1 anti)")
def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    big = t["orders"].filter(F.col("o_totalprice") > 450000)
    return (
        t["customer"]
        .join(big, t["customer"].c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# Top-k per group: window ranking (W1, O4).
# --------------------------------------------------------------------------
QTOPK_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
ORDER BY o_custkey, rn
"""


@declare("q_topk_orders_per_customer", oracle=QTOPK_ORACLE, description="top-k per group via row_number window (W1,O4)")
def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


# --------------------------------------------------------------------------
# Running totals: analytic window frame (W3).
# --------------------------------------------------------------------------
QRUN_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
  LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
FROM orders
WHERE o_orderdate IS NOT NULL AND o_orderkey IS NOT NULL
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


@declare("q_running_customer_spend", oracle=QRUN_ORACLE, description="running sum + lag analytic window (W3)")
def q_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): the running-total axis
    # must be defined — NULLs sort to opposite ends of the two engines
    orders = orders.filter(
        F.col("o_orderdate").isNotNull() & F.col("o_orderkey").isNotNull()
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .withColumn(
            "running_spend",
            F.sum(_d("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"),
        )
        .withColumn("prev_orderkey", F.lag("o_orderkey").over(w))
        .drop("o_totalprice")
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


# --------------------------------------------------------------------------
# ROLLUP grouping sets (A9).
# --------------------------------------------------------------------------
QROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@declare("q_rollup_qty", oracle=QROLLUP_ORACLE, description="rollup grouping sets (A9 cube/rollup)")
def q_rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# Distinct + set-op union (A1, A8).
# --------------------------------------------------------------------------
QDIST_ORACLE = """
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY l_returnflag, l_linestatus
"""


@declare("q_distinct_flags", oracle=QDIST_ORACLE, description="distinct pairs (A1)")
def q_distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


QUNION_ORACLE = """
SELECT nationkey, COUNT(*) AS n_accounts,
       CAST(SUM(CAST(acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM (
  SELECT c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey, s_acctbal AS acctbal FROM supplier
)
GROUP BY nationkey
ORDER BY nationkey
"""


@declare("q_union_accounts", oracle=QUNION_ORACLE, description="unionByName + agg (A8 — rebuild uses name-based union)")
def q_union_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "supplier")
    c = t["customer"].select(
        F.col("c_nationkey").alias("nationkey"), F.col("c_acctbal").alias("acctbal")
    )
    s = t["supplier"].select(
        F.col("s_nationkey").alias("nationkey"), F.col("s_acctbal").alias("acctbal")
    )
    return (
        c.unionByName(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n_accounts"), dsum("acctbal", "total_bal"))
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------------
# Conditional / CASE WHEN (W2, F6).
# --------------------------------------------------------------------------
QCASE_ORACLE = """
SELECT
  CASE WHEN o_totalprice >= 100000 THEN 'high'
       WHEN o_totalprice >= 25000  THEN 'mid'
       ELSE 'low' END AS price_band,
  o_orderstatus,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM orders
GROUP BY price_band, o_orderstatus
ORDER BY price_band, o_orderstatus
"""


@declare("q_case_price_bands", oracle=QCASE_ORACLE, description="when/otherwise conditional buckets (W2,F6)")
def q_case_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    band = (
        F.when(F.col("o_totalprice") >= 100000, "high")
        .when(F.col("o_totalprice") >= 25000, "mid")
        .otherwise("low")
    )
    return (
        orders.withColumn("price_band", band)
        .groupBy("price_band", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total"),
        )
        .orderBy("price_band", "o_orderstatus")
    )


# --------------------------------------------------------------------------
# String function palette (F9).
# --------------------------------------------------------------------------
QSTR_ORACLE = """
SELECT
  p_partkey,
  UPPER(p_brand) AS brand_upper,
  LOWER(p_type) AS type_lower,
  TRIM(p_name) AS name_trim,
  CONCAT_WS('|', p_brand, p_type) AS brand_type,
  LENGTH(p_name) AS name_len,
  REGEXP_EXTRACT(p_type, '^(\\w+)', 1) AS type_head,
  SUBSTRING(p_name, 1, 5) AS name5,
  REPLACE(p_type, ' ', '_') AS type_snake
FROM part
ORDER BY p_partkey
"""


@declare("q_string_palette", oracle=QSTR_ORACLE, description="string function palette (F9)")
def q_string_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_tables(spark, sf_dir, "part")["part"]
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.trim("p_name").alias("name_trim"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# Date function palette (F9).
# --------------------------------------------------------------------------
QDATE_ORACLE = """
SELECT
  EXTRACT(YEAR FROM o_orderdate) AS order_year,
  EXTRACT(MONTH FROM o_orderdate) AS order_month,
  COUNT(*) AS n_orders,
  MIN(CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP)) AS month_start,
  MAX(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')) AS max_days_to_eoy
FROM orders
GROUP BY order_year, order_month
ORDER BY order_year, order_month
"""


@declare("q_date_palette", oracle=QDATE_ORACLE, description="date/time function palette (F9)")
def q_date_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            F.datediff(
                F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("days_to_eoy"),
        )
        .groupBy("order_year", "order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("month_start").alias("month_start"),
            F.max("days_to_eoy").alias("max_days_to_eoy"),
        )
        .orderBy("order_year", "order_month")
    )


# --------------------------------------------------------------------------
# Math palette (F9) — round/abs/floor/ceil are exact on doubles; log via
# decimal is meaningless so we round the result to 6 dp on both sides.
# --------------------------------------------------------------------------
QMATH_ORACLE = """
SELECT
  p_partkey,
  ROUND(p_retailprice, 1) AS price_r1,
  ABS(p_size - 25) AS size_dev,
  CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
  CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
  ROUND(LN(p_retailprice), 6) AS price_ln,
  ROUND(SQRT(CAST(p_size AS DOUBLE)), 6) AS size_sqrt,
  MOD(p_partkey, 7) AS key_mod7
FROM part
ORDER BY p_partkey
"""


@declare("q_math_palette", oracle=QMATH_ORACLE, description="math function palette (F9)")
def q_math_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_tables(spark, sf_dir, "part")["part"]
    return part.select(
        "p_partkey",
        F.round("p_retailprice", 1).alias("price_r1"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        F.round(F.sqrt(F.col("p_size").cast("double")), 6).alias("size_sqrt"),
        (F.col("p_partkey") % 7).alias("key_mod7"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# Array palette (F9): split/explode/array_contains/transform.
# --------------------------------------------------------------------------
QARR_ORACLE = """
SELECT word, COUNT(*) AS n
FROM (SELECT UNNEST(STRING_SPLIT(p_type, ' ')) AS word FROM part)
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word
"""


@declare("q_array_explode_words", oracle=QARR_ORACLE, description="split + explode + agg (F9 arrays)")
def q_array_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_tables(spark, sf_dir, "part")["part"]
    return (
        part.select(F.explode(F.split("p_type", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
    )


# --------------------------------------------------------------------------
# Exact distinct count (deterministic; approx variant is rows-only in llm.py).
# --------------------------------------------------------------------------
QCOUNTD_ORACLE = """
SELECT
  COUNT(DISTINCT l_orderkey) AS n_orders,
  COUNT(DISTINCT l_partkey) AS n_parts,
  COUNT(DISTINCT l_suppkey) AS n_supps
FROM lineitem
"""


@declare("q_count_distinct", oracle=QCOUNTD_ORACLE, description="multi countDistinct (A9)")
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


# --------------------------------------------------------------------------
# Pivot (A9 family): return-flag counts pivoted on linestatus.
# --------------------------------------------------------------------------
QPIVOT_ORACLE = """
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_linestatus = 'O') AS status_O,
       COUNT(*) FILTER (WHERE l_linestatus = 'F') AS status_F
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@declare("q_pivot_status", oracle=QPIVOT_ORACLE, description="pivot / conditional aggregation (A9)")
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_linestatus") == "O", 1)).alias("status_O"),
            F.count(F.when(F.col("l_linestatus") == "F", 1)).alias("status_F"),
        )
        .orderBy("l_returnflag")
    )


def _revenue():
    return _d("l_extendedprice") * (F.lit(1) - _d("l_discount"))


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations, by year.  lineitem joins
# orders/customer/supplier; the two nation dims broadcast; the yearly
# rollup is a 4-key partial agg.
# --------------------------------------------------------------------------
Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
       CAST(ROUND(SUM({_REV_SQL}), 4) AS DOUBLE) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@declare(
    "q7_volume_shipping",
    oracle=Q7_ORACLE,
    description="TPC-H Q7: dual-aliased dim join + 3-fact chain + yearly rollup (J1,J2,A9,F9 date)",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = t["lineitem"].filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
    )
    joined = (
        li.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(
                t["supplier"].join(n1, F.col("s_nationkey") == F.col("n1_key"))
            ).select("s_suppkey", "supp_nation"),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            F.broadcast(
                t["customer"].join(n2, F.col("c_nationkey") == F.col("n2_key"))
            ).select("c_custkey", "cust_nation"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_revenue()).cast("decimal(38,4)").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 — market share of one supplier nation inside one region's market
# for one part type, by order year.  Conditional aggregation
# (sum(case)/sum) over a 6-way join.
# --------------------------------------------------------------------------
Q8_ORACLE = f"""
WITH all_nations AS (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
         {_REV_SQL} AS volume,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    AND p_type = 'STANDARD'
)
SELECT o_year,
       -- ROUND 4 before the double casts (scale-8 decimal->double is
       -- double-rounded in DuckDB at large magnitudes; see tpch.py Q1)
       CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END), 4) AS DOUBLE)
         / CAST(ROUND(SUM(volume), 4) AS DOUBLE) AS mkt_share
FROM all_nations
GROUP BY o_year
ORDER BY o_year
"""


@declare(
    "q8_market_share",
    oracle=Q8_ORACLE,
    description="TPC-H Q8: 6-way star join + conditional-aggregate ratio (J1,J2,A9,F6)",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(
        spark, sf_dir, "part", "lineitem", "supplier", "orders", "customer",
        "nation", "region",
    )
    part = t["part"].filter(F.col("p_type") == "STANDARD").select("p_partkey")
    asia_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    cust = (
        t["customer"]
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"].select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    orders = t["orders"].filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    volume = _revenue()
    joined = (
        t["lineitem"]
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume"))
                    .otherwise(F.lit(0).cast(_DEC))
                ).cast("decimal(38,4)").cast("double")
                / F.sum("volume").cast("decimal(38,4)").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution: left outer join + two-level
# aggregation (per-customer count, then histogram of counts).
# --------------------------------------------------------------------------
Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@declare(
    "q13_customer_distribution",
    oracle=Q13_ORACLE,
    description="TPC-H Q13: left outer join + double aggregation histogram (J1,A9)",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    per_cust = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# Q15 — top supplier: quarterly revenue per supplier, keep the max.
# The scalar max is joined back (broadcast of a 1-row aggregate) —
# the distributed form of the correlated subquery.
# --------------------------------------------------------------------------
Q15_ORACLE = f"""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
         CAST(ROUND(SUM({_REV_SQL}), 4) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
ORDER BY s_suppkey
"""


@declare(
    "q15_top_supplier",
    oracle=Q15_ORACLE,
    description="TPC-H Q15: agg view + scalar-max semi join (J1,A2,A9)",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "supplier")
    revenue0 = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue()).cast("decimal(38,4)").cast("double").alias("total_revenue"))
    )
    max_rev = revenue0.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue0.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue: per-part average joined back to
# the fact (the decorrelated form of TPC-H's correlated subquery).
# --------------------------------------------------------------------------
Q17_ORACLE = """
WITH avg_qty AS (
  SELECT l_partkey AS a_partkey,
         0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity)) AS threshold
  FROM lineitem
  GROUP BY l_partkey
)
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN avg_qty ON a_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND p_size <= 5
  AND l_quantity < threshold
"""


@declare(
    "q17_small_quantity_revenue",
    oracle=Q17_ORACLE,
    description="TPC-H Q17: decorrelated per-key average + selective fact re-join (J1,A9)",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li = t["lineitem"]
    part = (
        t["part"]
        .filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 5))
        .select("p_partkey")
    )
    # restrict BOTH the average computation's input partkeys and the
    # fact rows to the selected parts before the shuffle: at 100 TB the
    # per-part agg over all parts would dominate, and semantics only
    # need averages for the selected parts
    selected = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    avg_qty = selected.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(_d("l_quantity")).cast("double")
                / F.count("l_quantity")
            )
        ).alias("threshold")
    )
    return (
        selected.join(F.broadcast(avg_qty), F.col("a_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            (F.sum(_d("l_extendedprice")).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------------
# Q22 (adapted) — global sales opportunity: customers richer than the
# average positive balance with no RECENT orders (since 1999 — every
# fixture customer has ordered at least once, so TPC-H's lifetime
# NOT EXISTS is vacuous here; the original Q22 likewise scopes to "in
# the last 7 years"), grouped by nation (the fixture customer table
# has no c_phone, so nation replaces the phone-prefix country code).
# Semantics otherwise intact: scalar-average subquery + anti join +
# group-aggregate.
# --------------------------------------------------------------------------
Q22_ORACLE = """
WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
  FROM customer WHERE c_acctbal > 0.00
)
SELECT n_name AS cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
CROSS JOIN thr
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY n_name
ORDER BY n_name
"""


@declare(
    "q22_sales_opportunity",
    oracle=Q22_ORACLE,
    description="TPC-H Q22 adapted: scalar-avg threshold + anti join + nation rollup (J1 anti, A9)",
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders", "nation")
    cust, orders, nation = t["customer"], t["orders"], t["nation"]
    # scalar threshold: 1-row aggregate broadcast, never a driver collect
    thr = cust.filter(F.col("c_acctbal") > 0.00).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    # anti join BEFORE the threshold filter would scan all orders for
    # customers the filter discards — filter first (predicate is cheap,
    # anti join shuffles), then anti join the survivors.  The date
    # predicate prunes the orders side ahead of its shuffle too.
    rich = cust.crossJoin(F.broadcast(thr)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    never_ordered = rich.join(
        orders.filter(F.col("o_orderdate") >= "1999-01-01").select("o_custkey"),
        rich["c_custkey"] == F.col("o_custkey"),
        "left_anti",
    )
    return (
        never_ordered.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy(F.col("n_name").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal", scale=2),
        )
        .orderBy("cntrycode")
    )


_SP_SQL = "SELECT DISTINCT l_partkey AS sp_partkey, l_suppkey AS sp_suppkey FROM lineitem"


def _supply_pairs(li: DataFrame) -> DataFrame:
    """The fixture's ``partsupp`` stand-in: observed supply pairs."""
    return li.select(
        F.col("l_partkey").alias("sp_partkey"),
        F.col("l_suppkey").alias("sp_suppkey"),
    ).distinct()


# --------------------------------------------------------------------------
# Q2-shaped — best available supplier per part in a region (correlated
# scalar MAX subquery).  Spark: the candidate set is built once, the
# per-part max comes from a window — one shuffle on p_partkey instead
# of a correlated re-scan per row.
# --------------------------------------------------------------------------
Q2_ORACLE = f"""
WITH sp AS ({_SP_SQL}),
cand AS (
  SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name
  FROM part
  JOIN sp ON p_partkey = sp_partkey
  JOIN supplier ON sp_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'PROMO' AND r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey
FROM cand c
WHERE s_acctbal = (SELECT MAX(s_acctbal) FROM cand c2 WHERE c2.p_partkey = c.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@declare(
    "q2_best_supplier",
    oracle=Q2_ORACLE,
    description="TPC-H Q2-shaped: correlated scalar-max subquery per part over region-filtered supply pairs (adapted: acctbal for supplycost)",
)
def q2_best_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "part", "supplier", "nation", "region", "lineitem")
    cand = (
        t["part"]
        .filter(
            F.col("p_size").between(10, 20) & (F.col("p_type") == "PROMO")
        )
        .join(
            _supply_pairs(t["lineitem"]),
            F.col("p_partkey") == F.col("sp_partkey"),
        )
        .join(
            F.broadcast(t["supplier"]),
            F.col("sp_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("__mx", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("__mx"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q9-shaped — product-type profit by supplier nation and year.  Profit
# uses p_retailprice×quantity as the cost proxy for ps_supplycost;
# per-row double math is rounded then decimal-accumulated so both
# engines sum identical operands exactly.
# --------------------------------------------------------------------------
Q9_ORACLE = """
SELECT n_name AS nation,
       CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(round(
            CAST(l_extendedprice AS DOUBLE) * (1 - CAST(l_discount AS DOUBLE))
            - 0.1 * CAST(p_retailprice AS DOUBLE) * CAST(l_quantity AS DOUBLE), 6)
         AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, YEAR(o_orderdate)
ORDER BY nation, o_year DESC
"""


@declare(
    "q9_product_profit",
    oracle=Q9_ORACLE,
    description="TPC-H Q9-shaped: 5-way join profit rollup by supplier nation × year (adapted: retail-price cost proxy)",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "part", "supplier", "nation", "orders", "lineitem")
    amount = F.round(
        F.col("l_extendedprice").cast("double")
        * (F.lit(1) - F.col("l_discount").cast("double"))
        - F.lit(0.1)
        * F.col("p_retailprice").cast("double")
        * F.col("l_quantity").cast("double"),
        6,
    ).cast("decimal(18,6)")
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].filter(F.col("p_name").like("%gear%"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# --------------------------------------------------------------------------
# Q11-shaped — parts carrying an outsized share of one nation's shipped
# value (group-sum vs scalar-threshold subquery).  The total is a
# 1-row broadcast; the threshold comparison stays in exact decimals so
# the row set is identical cross-engine.
# --------------------------------------------------------------------------
Q11_ORACLE = """
WITH v AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT partkey, CAST(val AS DOUBLE) AS part_value
FROM v
WHERE val > CAST(0.001 AS DECIMAL(10,6)) * (SELECT SUM(val) FROM v)
ORDER BY part_value DESC, partkey
"""


@declare(
    "q11_important_parts",
    oracle=Q11_ORACLE,
    description="TPC-H Q11-shaped: per-part value share vs scalar-subquery threshold (adapted: shipped value for stock value)",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "supplier", "nation", "lineitem")
    v = (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_3")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast(_DEC)).alias("val"))
    )
    tot = v.agg(F.sum("val").alias("tot"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("val") > F.lit(0.001).cast("decimal(10,6)") * F.col("tot"))
        .select("partkey", F.col("val").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), "partkey")
    )


# --------------------------------------------------------------------------
# Q12-shaped — late-shipment priority mix (CASE-bucketed counts after
# the orders⋈lineitem join).  Lateness = shipped >60 days after the
# order date (fixture stand-in for receipt-vs-commit).
# --------------------------------------------------------------------------
Q12_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@declare(
    "q12_late_priority",
    oracle=Q12_ORACLE,
    description="TPC-H Q12-shaped: late-shipment high/low priority counts per return flag (adapted: ship-vs-order lateness)",
)
def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Q16-shaped — supplier diversity per part class, excluding flagged
# suppliers via NOT IN (broadcast anti-join; s_suppkey is non-null so
# NOT IN ≡ anti-join).
# --------------------------------------------------------------------------
Q16_ORACLE = f"""
WITH sp AS ({_SP_SQL})
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT sp_suppkey) AS BIGINT) AS supplier_cnt
FROM sp
JOIN part ON sp_partkey = p_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND sp_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@declare(
    "q16_supplier_diversity",
    oracle=Q16_ORACLE,
    description="TPC-H Q16-shaped: distinct-supplier counts per part class with NOT-IN supplier exclusion (adapted: negative balance for complaints)",
)
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "part", "supplier", "lineitem")
    flagged = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    return (
        _supply_pairs(t["lineitem"])
        .join(
            F.broadcast(flagged),
            F.col("sp_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(parts), F.col("sp_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("sp_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# Q20-shaped — suppliers who moved heavy volume of a part family
# (nested IN over a HAVING-filtered aggregate → semi-join onto the
# supplier dim).
# --------------------------------------------------------------------------
Q20_ORACLE = """
SELECT s_name, s_acctbal
FROM supplier
WHERE s_acctbal >= 0
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 80
  )
ORDER BY s_name
"""


@declare(
    "q20_heavy_movers",
    oracle=Q20_ORACLE,
    description="TPC-H Q20-shaped: nested-IN over HAVING-filtered per-(supplier,part) volume (adapted: shipped qty for availqty)",
)
def q20_heavy_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "part", "supplier", "lineitem")
    heavy = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].filter(F.col("p_name").like("small%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("__q"))
        .filter(F.col("__q") > 80)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .filter(F.col("s_acctbal") >= 0)
        .join(
            F.broadcast(heavy),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# Q21-shaped — suppliers whose shipment closed out multi-supplier
# orders (the straggler).  The oracle keeps the original's correlated
# EXISTS / NOT-EXISTS form; the Spark plan is the scale rewrite:
# per-(order,supplier) max-ship aggregate, then a per-order window for
# the order max and supplier count — two shuffles, NO nested-loop
# anti-join (a non-equi NOT EXISTS would be a BroadcastNestedLoopJoin
# over lineitem² at 100 TB).
# --------------------------------------------------------------------------
Q21_ORACLE = """
WITH w AS (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM lineitem l1
  WHERE EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > l1.l_shipdate)
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM w
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@declare(
    "q21_straggler_suppliers",
    oracle=Q21_ORACLE,
    description="TPC-H Q21-shaped: double correlated EXISTS rewritten as aggregate+window (oracle keeps EXISTS form — independent equivalence check)",
)
def q21_straggler_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "supplier", "orders", "lineitem")
    g = (
        t["lineitem"]
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("__ms"))
    )
    w = Window.partitionBy("l_orderkey")
    stragglers = (
        g.withColumn("__omax", F.max("__ms").over(w))
        .withColumn("__nsupp", F.count(F.lit(1)).over(w))
        .filter((F.col("__ms") == F.col("__omax")) & (F.col("__nsupp") >= 2))
        .select("l_orderkey", "l_suppkey")
    )
    return (
        stragglers.join(
            t["orders"].filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


QCUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@declare(
    "q_cube_qty",
    oracle=QCUBE_ORACLE,
    description="CUBE multi-dim aggregate with decimal-exact sums (A9 [ext])",
)
def q_cube_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


QGSETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@declare(
    "q_grouping_sets",
    oracle=QGSETS_ORACLE,
    description="GROUPING SETS aggregate (A9 [ext])",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
               COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


QPCT_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
       ROUND(MIN(l_extendedprice), 6) AS lo,
       ROUND(MAX(l_extendedprice), 6) AS hi
FROM lineitem
WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@declare(
    "q_percentile_prices",
    oracle=QPCT_ORACLE,
    description="exact interpolated percentiles per group (A9 [ext]; percentile_approx's exact sibling)",
)
def q_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import exact_quantiles_bucketed

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): quantiles of defined
    # values per defined group, declared identically in the oracle
    li = li.filter(
        F.col("l_returnflag").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    # histogram-refinement exact quantiles: prices are near-unique, so
    # the count-based exact_quantiles degrades to a full per-group
    # window sort (measured 2.3 s at sf0.1; builtin percentile 3.5 s);
    # the bucketed selection form sorts only ~n/1024 candidate rows
    # hash-partition (deterministic) so the operator's multi-pass plan
    # can reuse the cached projection — round-robin would defeat it
    li = ensure_parallelism(
        li.select("l_returnflag", "l_extendedprice"), by="l_extendedprice"
    )
    # materialize=False: the input is a pruned parquet scan behind one
    # deterministic exchange — re-scan + ReusedExchange beats writing
    # the projection to executor disk.
    q = exact_quantiles_bucketed(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [(0.5, "p50"), (0.95, "p95")],
        materialize=False,
    )
    return q.select(
        "l_returnflag",
        F.round("p50", 6).alias("p50"),
        F.round("p95", 6).alias("p95"),
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
    ).orderBy("l_returnflag")


# Variance from decimal-accumulated sum/sumsq — bit-identical doubles in
# both engines (single-division formula; see registry.py rationale).
QSTD_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sm,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS sq,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       ROUND(SQRT((sq - sm * sm / n) / (n - 1)), 6) AS stddev_qty,
       ROUND((sq - sm * sm / n) / n, 6) AS var_pop_qty
FROM s
ORDER BY l_returnflag
"""


@declare(
    "q_stddev_qty",
    oracle=QSTD_ORACLE,
    description="stddev/variance via decimal-exact moment sums (A9 [ext])",
)
def q_stddev_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    dec = F.col("l_quantity").cast("decimal(18,4)")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(dec).cast("double").alias("sm"),
        F.sum(dec * dec).cast("decimal(38,4)").cast("double").alias("sq"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    sm, sq, n = F.col("sm"), F.col("sq"), F.col("n")
    return agg.select(
        "l_returnflag",
        F.round(F.sqrt((sq - sm * sm / n) / (n - 1)), 6).alias("stddev_qty"),
        F.round((sq - sm * sm / n) / n, 6).alias("var_pop_qty"),
    ).orderBy("l_returnflag")


QSET_ORACLE = """
SELECT n_nationkey AS nationkey FROM nation
WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
INTERSECT
SELECT s_nationkey FROM supplier
EXCEPT
SELECT n_nationkey FROM nation WHERE n_name = 'FRANCE'
ORDER BY nationkey
"""


@declare(
    "q_intersect_except",
    oracle=QSET_ORACLE,
    description="INTERSECT / EXCEPT set operations (A8-adjacent [ext])",
)
def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "nation", "customer", "supplier")
    cust_nations = (
        t["nation"]
        .join(
            t["customer"].select(F.col("c_nationkey").alias("n_nationkey")).distinct(),
            "n_nationkey",
        )
        .select(F.col("n_nationkey").alias("nationkey"))
    )
    supp_nations = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    france = (
        t["nation"]
        .filter(F.col("n_name") == "FRANCE")
        .select(F.col("n_nationkey").alias("nationkey"))
    )
    return (
        cust_nations.intersect(supp_nations).exceptAll(france).orderBy("nationkey")
    )


QSEMI_ORACLE = """
SELECT p_partkey, p_name FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
              AND l.l_quantity > 45)
ORDER BY p_partkey
"""


@declare(
    "q_semi_join_parts",
    oracle=QSEMI_ORACLE,
    description="left-semi join: parts with any high-quantity lineitem (J1 semi)",
)
def q_semi_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "part", "lineitem")
    hot = t["lineitem"].filter(F.col("l_quantity") > 45).select("l_partkey")
    return (
        t["part"]
        .join(hot, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


QNTILE_ORACLE = """
SELECT c_custkey,
       NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS wealth_quartile
FROM customer
WHERE c_acctbal IS NOT NULL AND c_custkey IS NOT NULL
  AND isfinite(c_acctbal)
ORDER BY c_custkey
"""


@declare(
    "q_ntile_customers",
    oracle=QNTILE_ORACLE,
    description="ntile bucketing with deterministic tiebreak (W1 family)",
)
def q_ntile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import ntile_exact

    cust = load_tables(spark, sf_dir, "customer")["customer"]
    # NULL/non-finite contract (relational + float fuzz sweeps): the
    # quartile axis must be defined AND finite — a NULL balance negates
    # to NULL, and NaN inverts its sort position under the DESC-via-
    # negation trick (-NaN is still NaN, which both engines sort LAST
    # where a true DESC would put it FIRST)
    inf = float("inf")
    cust = cust.filter(
        F.col("c_acctbal").isNotNull()
        & F.col("c_custkey").isNotNull()
        & ~F.isnan("c_acctbal")
        & (F.col("c_acctbal") < inf)
        & (F.col("c_acctbal") > -inf)
    )
    # cost-based NTILE (r12, operators/relational.ntile_exact): count
    # probe routes under-floor inputs through the native window; a
    # corpus-sized customer table keeps the distributed
    # range-repartition + per-partition-offsets form.  DESC order
    # is expressed by negating the sort key (acctbal is numeric).
    binned = ntile_exact(
        cust.select(
            "c_custkey", (-F.col("c_acctbal")).alias("__neg_bal")
        ),
        4,
        ["__neg_bal", "c_custkey"],
        out_col="wealth_quartile",
    )
    return (
        binned.select(
            "c_custkey", F.col("wealth_quartile").cast("int").alias("wealth_quartile")
        ).orderBy("c_custkey")
    )


QREGEX_ORACLE = """
SELECT p_partkey,
       regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
       regexp_matches(p_name, 'o.*o') AS has_double_o,
       regexp_replace(p_brand, '[^0-9]', '', 'g') AS brand_num
FROM part
ORDER BY p_partkey
"""


@declare(
    "q_regexp_part_types",
    oracle=QREGEX_ORACLE,
    description="regexp extract/match/replace palette (F9 [ext])",
)
def q_regexp_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_tables(spark, sf_dir, "part")["part"]
    return part.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head"),
        F.col("p_name").rlike("o.*o").alias("has_double_o"),
        F.regexp_replace("p_brand", r"[^0-9]", "").alias("brand_num"),
    ).orderBy("p_partkey")


QMAPJ_ORACLE = """
SELECT event_id,
       array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
       len(json_keys(props)) AS n_props,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
       json_extract_string(props, '$.device') AS device
FROM events
ORDER BY event_id
"""


@declare(
    "q_map_from_json",
    oracle=QMAPJ_ORACLE,
    description="JSON → map: keys, cardinality, field access (F9 map/json [ext])",
)
def q_map_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    # JSON parsing is per-row CPU: prune + spread (gated, see above)
    ev = ensure_parallelism(ev.select("event_id", "props"))
    m = F.from_json("props", "map<string,string>")
    # prop_keys joined to a string: the driver's canonicalizer can't
    # sort array cells (same fix as q_frame_sample_plan).
    return ev.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("prop_keys"),
        F.size(F.map_keys(m)).alias("n_props"),
        # the VARYING field (fixture props = {"k": <int>}); `device`
        # stays as the documented missing-key → NULL semantics
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
        F.get_json_object("props", "$.device").alias("device"),
    ).orderBy("event_id")


Q10_ORACLE = """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@declare(
    "q10_returned_revenue",
    oracle=Q10_ORACLE,
    description="TPC-H Q10-ish: returned-item revenue per customer, top-20 (J1,A9,O4)",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        returned.join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150
)
SELECT c_custkey, o_orderkey, o_totalprice, total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50
"""


@declare(
    "q18_large_orders",
    oracle=Q18_ORACLE,
    description="TPC-H Q18-ish: HAVING-filtered agg joined back to facts (A9,J1)",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(dsum("l_quantity", "total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(
            t["orders"].select("o_orderkey", "o_custkey", "o_totalprice"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(t["customer"].select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_custkey", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
    )


# Price-band range join: static overlapping intervals × lineitem points,
# via the bucketed equi-join strategy (J4 [ext]; operators/relational.py).
QRANGE_ORACLE = """
WITH bands AS (
  SELECT i AS band_id, i * 40000.0 AS lo, i * 40000.0 + 60000.0 AS hi
  FROM range(0, 10) t(i)
)
SELECT band_id, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
FROM bands JOIN (SELECT * FROM lineitem WHERE isfinite(l_extendedprice)) l
  ON l_extendedprice >= lo AND l_extendedprice <= hi
GROUP BY band_id
ORDER BY band_id
"""


@declare(
    "q_range_join_price_bands",
    oracle=QRANGE_ORACLE,
    description="point-in-interval range join via bucketed equi-join (J4 [ext])",
)
def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import range_join_bucketed

    inf = float("inf")
    li = (
        load_tables(spark, sf_dir, "lineitem")["lineitem"]
        # a non-finite point has no bucket (float fuzz sweep: the
        # bucketing floor-cast would CAST_OVERFLOW on Inf under ANSI)
        .filter(
            ~F.isnan("l_extendedprice")
            & (F.col("l_extendedprice") < inf)
            & (F.col("l_extendedprice") > -inf)
        )
        .select("l_extendedprice", "l_quantity")
    )
    bands = spark.range(0, 10).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 40000.0).alias("lo"),
        (F.col("id") * 40000.0 + 60000.0).alias("hi"),
    )
    joined = range_join_bucketed(
        li, bands, left_point="l_extendedprice",
        right_start="lo", right_end="hi", bucket_width=20000,
    )
    return (
        joined.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity", "qty"),
        )
        .orderBy("band_id")
    )


Q14_ORACLE = """
SELECT ROUND(
         -- ROUND 4 before the double casts: whole-table product sums
         -- reach 5e9, where scale-8 decimal->double is double-rounded in
         -- DuckDB (see tpch.py Q1 note)
         100.0 * CAST(ROUND(SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
                    ELSE CAST(0 AS DECIMAL(18,4)) END), 4) AS DOUBLE)
         / CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE),
       6) AS promo_revenue_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


@declare(
    "q14_promo_revenue",
    oracle=Q14_ORACLE,
    description="TPC-H Q14-ish: conditional agg over a fact-dim join (J2,F6,A9)",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"].select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("decimal(38,4)").cast("double")
                / F.sum(rev).cast("decimal(38,4)").cast("double"),
                6,
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q19_ORACLE = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5 AND l_quantity <= 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20 AND l_quantity <= 40)
"""


@declare(
    "q19_discounted_revenue",
    oracle=Q19_ORACLE,
    description="TPC-H Q19-ish: disjunctive multi-predicate join filter (J1,P4)",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "part")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    joined = t["lineitem"].join(
        F.broadcast(t["part"].select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    cond1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(5, 25)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(20, 40)
    )
    return joined.filter(cond1 | cond2).agg(
        F.sum(rev).cast("decimal(38,4)").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# Full-outer join (completing the J1 family: inner/left/semi/anti are
# exercised elsewhere): per-nation customer vs supplier account
# balances — nations may have customers but no suppliers or vice versa.
QFULL_ORACLE = """
WITH c AS (
  SELECT c_nationkey AS nationkey,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS cust_bal
  FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey AS nationkey,
         CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS supp_bal
  FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey
)
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, cust_bal, supp_bal
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
ORDER BY nationkey
"""


@declare(
    "q_full_outer_balances",
    oracle=QFULL_ORACLE,
    description="full-outer join of per-nation aggregates (J1 full)",
)
def q_full_outer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "supplier")
    # balance filters keep each side sparse so the OUTER part is
    # non-vacuous (11-vs-1 nations at sf0.001, 25-vs-20 at sf0.01)
    c = (
        t["customer"]
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(dsum("c_acctbal", "cust_bal"))
    )
    s = (
        t["supplier"]
        .filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(dsum("s_acctbal", "supp_bal"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select("nationkey", "cust_bal", "supp_bal")
        .orderBy("nationkey")
    )


# Z-order layout: interleave (o_custkey, o_orderkey) bits into a
# Morton code, bucket z-space, and report per-bucket row counts plus
# the min/max span of BOTH keys — the locality property (each bucket
# bounded in every dimension) that makes z-ordered files skippable for
# predicates on either key.  Bit arithmetic is generated from the same
# Python constants for both engines.
_ZBITS = 12
_ZTERMS_SQL = " + ".join(
    f"((x // {2**i}) % 2) * {4**i} + ((y // {2**i}) % 2) * {2 * 4**i}"
    for i in range(_ZBITS)
)
QZORDER_ORACLE = f"""
WITH k AS (
  SELECT o_custkey % 4096 AS x, o_orderkey % 4096 AS y FROM orders
), z AS (
  SELECT x, y, CAST({_ZTERMS_SQL} AS BIGINT) AS zv FROM k
)
SELECT CAST(zv // {4**_ZBITS // 64} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
       CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max
FROM z
GROUP BY bucket
ORDER BY bucket
"""


@declare(
    "q_zorder_layout",
    oracle=QZORDER_ORACLE,
    description="Morton/Z-order interleave of (custkey, orderkey) + per-z-bucket dual-key spans — the multi-dim data-layout primitive (K11 family)",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import zorder_value

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    k = orders.select(
        (F.col("o_custkey") % 4096).alias("x"),
        (F.col("o_orderkey") % 4096).alias("y"),
    )
    z = k.select(
        "x", "y", zorder_value(F.col("x"), F.col("y"), bits=_ZBITS).alias("zv")
    )
    bucket_width = 4**_ZBITS // 64
    return (
        z.groupBy(
            F.floor(F.col("zv") / F.lit(bucket_width)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").cast("long").alias("x_min"),
            F.max("x").cast("long").alias("x_max"),
            F.min("y").cast("long").alias("y_min"),
            F.max("y").cast("long").alias("y_max"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Analytic-window palette: percent_rank / cume_dist / first / last /
# nth_value over one window spec (unique ordering ⇒ deterministic;
# rank ratios are integer divisions in double — bit-identical in any
# engine).  last_value needs the full-partition frame explicitly; the
# default frame stops at CURRENT ROW in both engines.
QWINPAL_ORACLE = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       first_value(c_acctbal) OVER w AS top_bal,
       last_value(c_acctbal)
         OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_bal,
       nth_value(c_acctbal, 3)
         OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_bal
FROM customer
WHERE c_acctbal IS NOT NULL AND c_custkey IS NOT NULL
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_mktsegment, c_acctbal DESC, c_custkey
"""


@declare(
    "q_window_palette",
    oracle=QWINPAL_ORACLE,
    description="percent_rank/cume_dist/first/last/nth_value analytic palette (W3 [ext])",
)
def q_window_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    # NULL contract (relational fuzz sweep): the window's ordering axis
    # must be defined — Spark and SQL sort NULLs to opposite ends
    cust = cust.filter(
        F.col("c_acctbal").isNotNull() & F.col("c_custkey").isNotNull()
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("c_acctbal").over(w).alias("top_bal"),
        F.last("c_acctbal").over(wfull).alias("bottom_bal"),
        F.nth_value("c_acctbal", 3).over(wfull).alias("third_bal"),
    ).orderBy("c_mktsegment", F.col("c_acctbal").desc(), "c_custkey")


# ---------------------------------------------------------------------------
# Collection-aggregate palette: collect_set / collect_list with
# explicit in-array ordering, rendered to strings (arrays are sorted
# before joining so the value is partition-order-invariant; string
# rendering sidesteps engine array formatting).
QCOLLECT_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
       array_to_string(list_slice(list(CAST(o_totalprice AS DECIMAL(18,2))
                                       ORDER BY o_totalprice DESC), 1, 3), ',') AS top3_totals
FROM orders
WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@declare(
    "q_collect_palette",
    oracle=QCOLLECT_ORACLE,
    description="collect_set/collect_list aggregates with deterministic in-array ordering (A9 [ext])",
)
def q_collect_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): Spark's collect_list/set
    # silently skip NULLs while SQL list() keeps them — collect only
    # defined values, declared on both sides
    orders = orders.filter(
        F.col("o_orderstatus").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    top3 = F.concat_ws(
        ",",
        F.transform(
            F.slice(
                F.sort_array(
                    F.collect_list(F.col("o_totalprice").cast("decimal(18,2)")),
                    asc=False,
                ),
                1,
                3,
            ),
            lambda x: x.cast("string"),
        ),
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias(
                "statuses"
            ),
            top3.alias("top3_totals"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Discrete exact quantiles (percentile_disc / median-of-record):
# the same histogram-refinement selection, rank ⌈n·p⌉, no
# interpolation — the returned value is an actual data point.
QPDISC_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_disc(l_extendedprice, 0.25), 6) AS p25_disc,
       ROUND(quantile_disc(l_extendedprice, 0.50), 6) AS p50_disc,
       ROUND(quantile_disc(l_extendedprice, 0.90), 6) AS p90_disc
FROM lineitem
WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@declare(
    "q_percentile_disc",
    oracle=QPDISC_ORACLE,
    description="exact discrete quantiles (percentile_disc) via histogram-refinement selection (A9 [ext])",
)
def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): quantiles of defined
    # values per defined group, declared identically in the oracle
    li = li.filter(
        F.col("l_returnflag").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    q = exact_quantiles_bucketed(
        li.select("l_returnflag", "l_extendedprice"),
        ["l_returnflag"],
        "l_extendedprice",
        [(0.25, "p25_disc"), (0.50, "p50_disc"), (0.90, "p90_disc")],
        materialize=False,
        discrete=True,
    )
    return q.select(
        "l_returnflag",
        F.round("p25_disc", 6).alias("p25_disc"),
        F.round("p50_disc", 6).alias("p50_disc"),
        F.round("p90_disc", 6).alias("p90_disc"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Equi-width histogram via width_bucket: fixed [lo, hi) bounds, n+2
# overflow buckets — the profiling/binning primitive (Spark's builtin;
# the oracle replicates its floor arithmetic exactly, clamped to the
# same overflow buckets).
_HB_LO, _HB_HI, _HB_N = 900.0, 105000.0, 16

QHIST_ORACLE = f"""
SELECT l_returnflag,
       CAST(LEAST(GREATEST(FLOOR((l_extendedprice - {_HB_LO})
                                 / (({_HB_HI} - {_HB_LO}) / {_HB_N})) + 1, 0), {_HB_N} + 1)
            AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
FROM lineitem
WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
GROUP BY l_returnflag, bucket
ORDER BY l_returnflag, bucket
"""


@declare(
    "q_value_histogram",
    oracle=QHIST_ORACLE,
    description="equi-width histogram per group via width_bucket (profiling [ext])",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): a NULL value has no bucket
    # (SQL GREATEST skips NULLs and would clamp it to bucket 0)
    li = li.filter(
        F.col("l_returnflag").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    return (
        li.groupBy(
            "l_returnflag",
            F.width_bucket(
                "l_extendedprice", F.lit(_HB_LO), F.lit(_HB_HI), F.lit(_HB_N)
            )
            .cast("long")
            .alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast(
                    "double"
                ),
                2,
            ).alias("total"),
        )
        .orderBy("l_returnflag", "bucket")
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join: both sides written bucketBy(orderkey) once,
# then the join/agg runs WITHOUT any Exchange (the plan assertion lives
# in tests/test_scale_plans.py).  Result values are oracle-checked —
# bucketing must change the plan, never the answer.
QBUCKJOIN_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@declare(
    "q_bucketed_join",
    oracle=QBUCKJOIN_ORACLE,
    description="shuffle-free co-located join over same-bucketed tables — write-once shuffle amortized over every key-aligned consumer (bucketing [ext])",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.io import write_bucketed_table

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    write_bucketed_table(
        t["orders"].select("o_orderkey", "o_orderpriority"),
        "jb_bucketed_orders",
        ["o_orderkey"],
        num_buckets=8,
        sort_cols=["o_orderkey"],
    )
    write_bucketed_table(
        t["lineitem"]
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .withColumnRenamed("l_orderkey", "o_orderkey"),
        "jb_bucketed_lineitem",
        ["o_orderkey"],
        num_buckets=8,
        sort_cols=["o_orderkey"],
    )
    revenue = _d("l_extendedprice") * (F.lit(1) - _d("l_discount"))
    return (
        spark.table("jb_bucketed_orders")
        .join(spark.table("jb_bucketed_lineitem"), ["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# 3-key Z-order layout (VERDICT r4 §Next-6): real OPTIMIZE ZORDER
# interleaves ANY column set — bit i of key j lands at z-bit i·3+j.
# The locality claim is the oracle-checked output itself: bucketing
# z-space bounds the min/max span of ALL THREE keys per bucket, so
# min/max file stats prune scans filtered on any of them.  Bit
# arithmetic is generated from the same Python constants for both
# engines (the 2-key form is q_zorder_layout in extra.py).
_Z3BITS = 8  # 3 × 8 = 24 z-bits
_Z3TERMS_SQL = " + ".join(
    f"((x // {2**i}) % 2) * {2 ** (3 * i)} "
    f"+ ((y // {2**i}) % 2) * {2 ** (3 * i + 1)} "
    f"+ ((w // {2**i}) % 2) * {2 ** (3 * i + 2)}"
    for i in range(_Z3BITS)
)
QZORDER3_ORACLE = f"""
WITH k AS (
  SELECT o_custkey % 256 AS x, o_orderkey % 256 AS y,
         CAST(FLOOR(o_totalprice) AS BIGINT) % 256 AS w
  FROM orders
), z AS (
  SELECT x, y, w, CAST({_Z3TERMS_SQL} AS BIGINT) AS zv FROM k
)
SELECT CAST(zv // {8**_Z3BITS // 64} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
       CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max,
       CAST(MIN(w) AS BIGINT) AS w_min, CAST(MAX(w) AS BIGINT) AS w_max
FROM z
GROUP BY bucket
ORDER BY bucket
"""


@declare(
    "q_zorder3_layout",
    oracle=QZORDER3_ORACLE,
    description="3-key Morton/Z-order interleave + per-z-bucket triple-key spans — n-column generalization of the data-layout primitive (K11 family [ext])",
)
def q_zorder3_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import zorder_value

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    k = orders.select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.col("o_orderkey") % 256).alias("y"),
        (F.floor("o_totalprice").cast("long") % 256).alias("w"),
    )
    z = k.select(
        "x",
        "y",
        "w",
        zorder_value(F.col("x"), F.col("y"), F.col("w"), bits=_Z3BITS).alias("zv"),
    )
    bucket_width = 8**_Z3BITS // 64
    return (
        z.groupBy(
            F.floor(F.col("zv") / F.lit(bucket_width)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").cast("long").alias("x_min"),
            F.max("x").cast("long").alias("x_max"),
            F.min("y").cast("long").alias("y_min"),
            F.max("y").cast("long").alias("y_max"),
            F.min("w").cast("long").alias("w_min"),
            F.max("w").cast("long").alias("w_max"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Salted skew join, oracle-checked end-to-end: the salted plan must
# change the SHUFFLE (hot keys spread over `salt` reducers), never the
# ANSWER — so the oracle is simply the plain join (the q_bucketed_join
# discipline).  Values aggregate per priority so the hash check covers
# every joined row.
QSALT_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@declare(
    "q_salted_join",
    oracle=QSALT_ORACLE,
    description="skew-salted equi-join — answer identical to the plain join (salting only reshapes the shuffle) (skew [ext])",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import salted_join

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    joined = salted_join(
        t["lineitem"].select("l_orderkey", "l_extendedprice"),
        t["orders"].select("o_orderkey", "o_orderpriority"),
        left_on="l_orderkey",
        right_on="o_orderkey",
        salt=8,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostic: per-key share of the fact table for the top
# keys — what you run BEFORE picking broadcast/salt/bucket strategies.
# Two-level aggregate (map-side combine), top-k via TakeOrdered.
QSKEW_ORACLE = """
WITH counts AS (
  SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_orderkey
), tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS total, CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM counts
)
SELECT c.key, c.n,
       ROUND(CAST(c.n AS DOUBLE) / t.total, 6) AS share,
       ROUND(CAST(c.n AS DOUBLE) * t.n_keys / t.total, 6) AS skew_factor
FROM counts c CROSS JOIN tot t
ORDER BY c.n DESC, c.key
LIMIT 20
"""


@declare(
    "q_skew_report",
    oracle=QSKEW_ORACLE,
    description="key-skew diagnostic: hottest keys' share and skew factor vs uniform (pre-join strategy report [ext])",
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    counts = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = counts.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("n").cast("double") * F.col("n_keys") / F.col("total"), 6
            ).alias("skew_factor"),
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram: 8 bins of o_totalprice with equal row counts
# (NTILE over a deterministic total order), each bin reporting its
# [lo, hi] edge and population — the optimizer-statistics primitive
# (selectivity estimation / range-partition boundary choice use
# exactly these bins at scale).  Scale shape: single window sort on
# (price, key) — the same shuffle a global ORDER BY costs — then an
# 8-group aggregate; no per-bin passes.  Ties broken by o_orderkey so
# both engines assign identical bin membership.
QEQD_ORACLE = """
WITH b AS (
  SELECT o_totalprice,
         NTILE(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM b GROUP BY bin ORDER BY bin
"""


@declare(
    "q_equidepth_histogram",
    oracle=QEQD_ORACLE,
    description="equi-depth 8-bin histogram of order prices (NTILE edges + populations) — the selectivity/range-boundary statistics primitive (A9/W3 [ext])",
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import ntile_exact

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): the bin axis must be
    # defined — NULLs sort to opposite ends of the two engines' orders
    orders = orders.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderkey").isNotNull()
    )
    # cost-based NTILE (r12): count probe routes under-floor inputs
    # through the native window; corpus-sized tables keep the
    # distributed range-repartition + per-partition-offsets form
    binned = ntile_exact(
        orders.select("o_totalprice", "o_orderkey"),
        8,
        ["o_totalprice", "o_orderkey"],
        out_col="bin",
    )
    return (
        binned.groupBy(F.col("bin").cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Shuffle-hash join: the third physical join strategy (after broadcast
# and sort-merge) — when BOTH sides are too big to broadcast but one
# side's per-partition build fits memory, hashing beats sorting (no
# sort of either side).  The SHUFFLE_HASH hint pins the strategy; the
# plan test (tests/test_scale_plans.py) asserts ShuffledHashJoin is
# the chosen physical node.  At 100 TB this is the join for
# mid-sized dimensions above the broadcast threshold.
QSHJ_ORACLE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'F'
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@declare(
    "q_shufflehash_join",
    oracle=QSHJ_ORACLE,
    description="SHUFFLE_HASH-hinted fact-dim join (no sort of either side) — the third physical join strategy, plan-asserted (J1/J2 [ext])",
)
def q_shufflehash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    return (
        t["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .join(
            t["customer"].hint("SHUFFLE_HASH"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Unpivot/melt: wide per-flag metric columns back to long
# (metric, value) rows — the inverse of the pivot surface
# (q_pivot_status), completing the reshape pair.  Spark's native
# unpivot (SQL `stack`-equivalent) against DuckDB's UNPIVOT.  Values
# are decimal-accumulated before the unpivot so the melted doubles are
# bit-identical.
QUNPIVOT_ORACLE = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value
FROM wide UNPIVOT (value FOR metric IN (sum_qty, sum_price, sum_disc))
ORDER BY l_returnflag, metric
"""


@declare(
    "q_unpivot_metrics",
    oracle=QUNPIVOT_ORACLE,
    description="unpivot/melt wide metric columns to long rows — inverse of the pivot surface (A9 [ext])",
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.queries.registry import dsum

    lineitem = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    wide = lineitem.groupBy("l_returnflag").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_price"),
        dsum("l_discount", "sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "metric",
        "value",
    ).orderBy("l_returnflag", "metric")


# ---------------------------------------------------------------------------
# RFM segmentation: per user recency (days since last event, vs the
# global horizon), frequency (events) and monetary (decimal-exact
# value sum), each quintiled into 1..5 with explicit id tiebreaks,
# composed into the classic 3-digit segment code.  The corpus pass is
# ONE keyed aggregate; the three quintile windows run over the USER
# table (orders of magnitude smaller than events).  Day arithmetic in
# microsecond BIGINT floor-division — no doubles anywhere until none.
QRFM_ORACLE = """
WITH u AS (
  SELECT user_id,
         MAX(epoch_us(ts)) AS last_us,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(value AS DECIMAL(18,4))) AS monetary
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id
), g AS (
  SELECT MAX(last_us) AS horizon_us FROM u
), r AS (
  SELECT u.user_id,
         CAST((g.horizon_us - u.last_us) // 86400000000 AS BIGINT)
           AS recency_days,
         u.frequency, u.monetary
  FROM u, g
), q AS (
  SELECT user_id, recency_days, frequency, monetary,
         NTILE(5) OVER (ORDER BY recency_days, user_id) AS r_q,
         NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f_q,
         NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS m_q
  FROM r
)
SELECT user_id, recency_days, frequency,
       CAST(monetary AS DOUBLE) AS monetary,
       CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS segment
FROM q ORDER BY user_id
"""


@declare(
    "q_rfm_segments",
    oracle=QRFM_ORACLE,
    description="RFM (recency/frequency/monetary) quintile segmentation per user — one events pass, quintile windows over the user table (A9/W3 [ext])",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    # RFM is defined over timestamped events OF A USER; a null-ts user
    # would get a null recency whose NTILE placement differs across
    # engines, and a NULL user is not a segmentable identity
    events = events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    us = F.unix_micros(F.col("ts"))
    u = events.groupBy("user_id").agg(
        F.max(us).alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("monetary"),
    )
    g = u.agg(F.max("last_us").alias("horizon_us"))
    r = u.crossJoin(F.broadcast(g)).select(
        "user_id",
        F.expr("(horizon_us - last_us) div 86400000000")
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary",
    )
    # three quintile passes (ntile_exact, DESC via negated sort keys)
    # joined back on the user key — cost-based (r12): each pass probes
    # the checkpointed user table once and routes under-floor inputs
    # through the native window (1 stage) instead of the chunked form's
    # 3 jobs; a corpus-sized user table keeps the range-partition form
    from jibaro_spark.operators.relational import ntile_exact

    r = r.localCheckpoint(eager=True)  # three consumers + probes, derive once

    def quintile(col_expr, name: str):
        keyed = r.select("user_id", col_expr.alias("__k"))
        return ntile_exact(keyed, 5, ["__k", "user_id"], out_col=name).select(
            "user_id", name
        )

    q = (
        r.join(quintile(F.col("recency_days"), "r_q"), "user_id")
        .join(quintile(-F.col("frequency"), "f_q"), "user_id")
        .join(quintile(-F.col("monetary"), "m_q"), "user_id")
    )
    return q.select(
        "user_id",
        "recency_days",
        "frequency",
        F.col("monetary").cast("double").alias("monetary"),
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("long")
        .alias("segment"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys pair
# with NULL keys instead of vanishing — the join variant plain
# equality cannot express.  Key nullability is manufactured with
# NULLIF so the fixture exercises the NULL bucket.
QNULLSAFE_ORACLE = """
WITH o AS (
  SELECT NULLIF(o_orderstatus, 'P') AS status_key, o_totalprice FROM orders
), d AS (
  SELECT DISTINCT NULLIF(o_orderstatus, 'P') AS status_key FROM orders
)
SELECT d.status_key,
       CAST(COUNT(o.o_totalprice) AS BIGINT) AS n_orders
FROM d JOIN o ON d.status_key IS NOT DISTINCT FROM o.status_key
GROUP BY d.status_key
ORDER BY d.status_key NULLS FIRST
"""


@declare(
    "q_nullsafe_join",
    oracle=QNULLSAFE_ORACLE,
    description="null-safe equi-join (<=> / IS NOT DISTINCT FROM) — NULL keys match NULL keys (J1 variant [ext])",
)
def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    o = orders.select(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_key"),
        "o_totalprice",
    )
    d = o.select("status_key").distinct()
    return (
        d.join(o, d["status_key"].eqNullSafe(o["status_key"]))
        .groupBy(d["status_key"].alias("status_key"))
        .agg(F.count("o_totalprice").cast("long").alias("n_orders"))
        .orderBy(F.col("status_key").asc_nulls_first())
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
# Quantile normalization: map each order total onto the customer
# account-balance distribution by rank fraction — the distribution-
# mapping transform (feature scaling to a reference distribution).
# Both rankings run through relational.global_row_number (range-
# partitioned zipWithIndex — NO single-partition window), and the
# rank mapping ceil((rp-1)*nc/(np-1)) is EXACT integer arithmetic:
# ceil(a/b) = (a + b - 1) div b — no float boundary anywhere.
QQNORM_ORACLE = """
WITH ob AS (
  SELECT * FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
), cb AS (
  SELECT * FROM customer
  WHERE c_acctbal IS NOT NULL AND c_custkey IS NOT NULL
), o AS (
  SELECT o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rp
  FROM ob
), c AS (
  SELECT c_acctbal,
         ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS rc
  FROM cb
), n AS (
  SELECT (SELECT COUNT(*) FROM ob) AS np,
         (SELECT COUNT(*) FROM cb) AS nc
)
SELECT o.o_orderkey, o.o_totalprice, c.c_acctbal AS mapped_bal
FROM o CROSS JOIN n
JOIN c ON c.rc = GREATEST(1, ((o.rp - 1) * n.nc + n.np - 2) // (n.np - 1))
ORDER BY o.o_orderkey
"""


@declare(
    "q_quantile_normalize",
    oracle=QQNORM_ORACLE,
    description="quantile-normalize order totals onto the customer balance distribution — distributed rank mapping with exact integer ceil, no single-partition window (featureeng [ext])",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import global_row_number

    t = load_tables(spark, sf_dir, "orders", "customer")
    # NULL contract (relational fuzz sweep): both rank axes must be
    # defined — NULLs sort to opposite ends of the two engines' orders
    ob = t["orders"].filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderkey").isNotNull()
    )
    cb = t["customer"].filter(
        F.col("c_acctbal").isNotNull() & F.col("c_custkey").isNotNull()
    )
    # cost-based ranking (r12): count probes route under-floor inputs
    # through plain row_number windows (1 stage each); corpus-sized
    # tables keep the distributed range-partition form.  r13 (ADVICE
    # r12 #3): np/nc come from the rank calls themselves (both routes
    # already count) instead of two more aggregates over the same
    # filtered scans — the mapping formula takes them as literals.
    o, np_ = global_row_number(
        ob.select("o_orderkey", "o_totalprice"),
        ["o_totalprice", "o_orderkey"],
        out_col="rp",
        with_count=True,
    )
    c, nc_ = global_row_number(
        cb.select("c_acctbal", "c_custkey"),
        ["c_acctbal", "c_custkey"],
        out_col="rc",
        with_count=True,
    )
    mapped = o.withColumn(
        "target_rc",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"((rp - 1) * {nc_} + {np_} - 2) div ({np_} - 1)"),
        ),
    ).join(c, F.col("rc") == F.col("target_rc"))
    return mapped.select(
        "o_orderkey", "o_totalprice", F.col("c_acctbal").alias("mapped_bal")
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Bloom-filter join pruning (operators/bloom.bloom_join).  The bloom
# is a prefilter — the final answer is an EXACT semi/anti join, so
# the oracle is the plain relational form.  What the driver hash
# verifies is that the pruning path changes nothing; what the unit
# tests verify is that it actually prunes (operators/bloom docstring
# has the 100 TB story: filter build is a bounded bit_or collect,
# probe is a map-only codegen predicate).
QBLOOMSEMI_ORACLE = """
SELECT l.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS sum_qty
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM part p
              WHERE p.p_partkey = l.l_partkey AND p.p_size >= 48)
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


@declare(
    "q_bloom_semi_join",
    oracle=QBLOOMSEMI_ORACLE,
    description="semi join with distributed bloom prefilter on the fact side — exact result, pruned shuffle (bloom join [ext])",
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.bloom import bloom_join

    t = load_tables(spark, sf_dir, "lineitem", "part")
    dim = t["part"].filter(F.col("p_size") >= 48)
    kept = bloom_join(t["lineitem"], dim, "l_partkey", "p_partkey", "left_semi")
    return (
        kept.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-exact accumulation, engine-neutral DOUBLE boundary
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


QBLOOMANTI_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS sum_price
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal >= 9000)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@declare(
    "q_bloom_anti_join",
    oracle=QBLOOMANTI_ORACLE,
    description="anti join where bloom-negative fact rows short-circuit past the shuffle — exact result (bloom join [ext])",
)
def q_bloom_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.bloom import bloom_join

    t = load_tables(spark, sf_dir, "orders", "customer")
    vip = t["customer"].filter(F.col("c_acctbal") >= 9000)
    kept = bloom_join(t["orders"], vip, "o_custkey", "c_custkey", "left_anti")
    return (
        kept.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Pareto concentration cutoff ([ext] analytics).  Per nation: how many
# top customers cover >= 80% of the nation's order revenue.  Revenue
# is decimal-exact; the 80% threshold compares 5*cum >= 4*total in
# decimal so no float boundary ambiguity; ranking tie-break is
# c_custkey.  Plan: one orders scan -> per-customer agg (shuffle on
# custkey), broadcast customer->nation, then a per-nation window over
# customer-sized (not order-sized) data.
QPARETO_ORACLE = """
WITH rev AS (
  SELECT c.c_nationkey, o.o_custkey,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS r
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), w AS (
  SELECT c_nationkey, o_custkey, r,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY r DESC, o_custkey) AS rn,
         CAST(SUM(r) OVER (PARTITION BY c_nationkey ORDER BY r DESC, o_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(28,2)) AS cum,
         CAST(SUM(r) OVER (PARTITION BY c_nationkey) AS DECIMAL(28,2)) AS tot,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n_cust
  FROM rev
), cut AS (
  SELECT c_nationkey, n_cust, tot, MIN(rn) AS n_top80
  FROM w WHERE cum * 5 >= tot * 4
  GROUP BY 1, 2, 3
)
SELECT n.n_name,
       CAST(c.n_cust AS BIGINT) AS n_customers,
       CAST(c.n_top80 AS BIGINT) AS n_top80,
       ROUND(CAST(c.n_top80 AS DOUBLE) / CAST(c.n_cust AS DOUBLE), 6) AS top80_frac
FROM cut c JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY n.n_name
"""


@declare(
    "q_pareto_cutoff",
    oracle=QPARETO_ORACLE,
    description="Per-nation Pareto cutoff: minimum number of top customers covering 80% of revenue, decimal-exact threshold (analytics [ext])",
)
def q_pareto_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    rev = (
        t["orders"]
        .join(F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("r")
        )
    )
    order_w = Window.partitionBy("c_nationkey").orderBy(F.desc("r"), F.asc("o_custkey"))
    cum_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nat_w = Window.partitionBy("c_nationkey")
    w = rev.select(
        "c_nationkey",
        F.row_number().over(order_w).alias("rn"),
        F.sum("r").over(cum_w).cast("decimal(28,2)").alias("cum"),
        F.sum("r").over(nat_w).cast("decimal(28,2)").alias("tot"),
        F.count(F.lit(1)).over(nat_w).alias("n_cust"),
    )
    cut = (
        w.where(F.col("cum") * 5 >= F.col("tot") * 4)
        .groupBy("c_nationkey", "n_cust", "tot")
        .agg(F.min("rn").alias("n_top80"))
    )
    return (
        cut.join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.col("n_cust").cast("bigint").alias("n_customers"),
            F.col("n_top80").cast("bigint").alias("n_top80"),
            F.round(
                F.col("n_top80").cast("double") / F.col("n_cust").cast("double"), 6
            ).alias("top80_frac"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Chunked grouped running sum ([ext] scale primitive demo).  Running
# revenue per return flag — 3 corpus-sized groups, the shape where
# Window.partitionBy(flag) puts a third of the table in ONE task.
# The Spark side runs operators.relational.grouped_prefix_sum (range
# chunks → local sums → per-(group, chunk) offsets → join), which is
# value-identical to the sequential window because the lane is
# decimal; the oracle IS the plain window.  Output is deterministically
# thinned (orderkey % 97) AFTER the cumulative so the driver compares
# a bounded row set while every input row still flowed through the
# primitive.
QCHUNKSUM_ORACLE = """
WITH c AS (
  SELECT l_returnflag, l_orderkey, l_linenumber,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
              OVER (PARTITION BY l_returnflag
                    ORDER BY l_shipdate, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DECIMAL(28,2)) AS running_revenue
  FROM lineitem
)
SELECT l_returnflag, l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
       CAST(running_revenue AS DOUBLE) AS running_revenue
FROM c WHERE l_orderkey % 97 = 0
ORDER BY l_returnflag, l_orderkey, l_linenumber
"""


@declare(
    "q_chunked_running_revenue",
    oracle=QCHUNKSUM_ORACLE,
    description="Per-flag running revenue via the chunked grouped_prefix_sum primitive (no one-task-per-group window), decimal-exact vs the plain-window oracle (scale primitive [ext])",
)
def q_chunked_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import grouped_prefix_sum

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    base = li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
    )
    cum = grouped_prefix_sum(
        base,
        ["l_returnflag"],
        ["l_shipdate", "l_orderkey", "l_linenumber"],
        "v",
        out_col="running_revenue",
    )
    return (
        cum.where(F.col("l_orderkey") % 97 == 0)
        .select(
            "l_returnflag",
            "l_orderkey",
            F.col("l_linenumber").cast("int").alias("l_linenumber"),
            F.col("running_revenue")
            .cast("decimal(28,2)")
            .cast("double")
            .alias("running_revenue"),
        )
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Aggregate-aware routing.  The Spark side answers the (returnflag)
# rollup from a (returnflag, linestatus) summary via the navigator —
# the fact is never re-aggregated.  The oracle computes from the fact
# directly: a hash match IS the routing-transparency proof.

QNAV_ORACLE = """
SELECT l_returnflag AS returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY returnflag
"""


@declare(
    "q_agg_navigator",
    oracle=QNAV_ORACLE,
    description="Aggregate-aware routing: the (returnflag) rollup is answered from the smallest covering (returnflag, linestatus) summary via operators/relational.aggregate_navigator — the oracle computes from the fact, so the hash match proves routing transparency (warehouse MV rewrite [ext])",
)
def q_agg_navigator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import aggregate_navigator

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    fact = li.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
        F.col("l_quantity").cast("decimal(18,2)").alias("sum_qty"),
    )
    # the pre-aggregated summaries a warehouse would maintain (the
    # fine one covers the request; the coarse one does not)
    summary_fine = fact.groupBy("returnflag", "linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("sum_qty").alias("sum_qty"),
    )
    summary_other = fact.groupBy("linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("sum_qty").alias("sum_qty"),
    )
    routed = aggregate_navigator(
        fact,
        [
            (["returnflag", "linestatus"], summary_fine),
            (["linestatus"], summary_other),
        ],
        keys=["returnflag"],
        measures={"n_items": "count", "sum_qty": "sum"},
    )
    return routed.select(
        "returnflag",
        F.col("n_items").cast("long").alias("n_items"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
    ).orderBy("returnflag")
