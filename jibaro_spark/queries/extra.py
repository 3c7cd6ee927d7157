"""Extra relational coverage (SURVEY §2.5 A9, §2.6 W3, §2.7 O4, §2.8
F9): multi-dim aggregates, exact percentiles, set ops, analytic
windows, regex/JSON functions — each oracle-checked against DuckDB.

Determinism notes follow registry.py: decimal accumulation for
double sums, explicit tiebreakers in every window, round(…, 6) where
both engines interpolate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.operators.util import ensure_parallelism
from jibaro_spark.queries.registry import declare, dsum, load_tables

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


QLAG_ORACLE = """
SELECT user_id, event_id,
       ROUND(value - LAG(value, 1, 0.0) OVER w, 6) AS delta_prev,
       LEAD(event_type, 1, 'none') OVER w AS next_type
FROM events
WHERE ts IS NOT NULL AND user_id IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
"""


@declare(
    "q_lag_lead_events",
    oracle=QLAG_ORACLE,
    description="lag/lead analytic windows over event streams (W3 [ext])",
)
def q_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeline fence: an event without a timestamp or user has no
    # position on a per-user timeline (and NULLs sort opposite ways in
    # Spark vs SQL windows) — same contract as q_markov_transitions
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value", 1, 0.0).over(w), 6).alias(
            "delta_prev"
        ),
        F.lead("event_type", 1, "none").over(w).alias("next_type"),
    ).orderBy("user_id", "event_id")


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


@declare(
    "q_approx_distinct",
    oracle=None,
    description="approx_count_distinct + percentile_approx sketches (A9 [ext]; rows-only — sketch values are engine-specific, accuracy asserted in tests)",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.util import ensure_parallelism

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # r12 (guide §2.5): HLL++ registers + exact-distinct partials +
    # the quantile summary all built map-side on the single-row-group
    # scan's ONE core (8.4 s at sf0.1).  Project to the two columns
    # and spread; HLL registers and distinct sets are
    # placement-independent, and the percentile sketch's 5% accuracy
    # contract (pinned in test_approx_ops) holds under any merge
    # order.
    li = ensure_parallelism(
        li.select("l_orderkey", "l_extendedprice"), by="l_orderkey"
    )
    return li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("p50_approx"),
    )


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


@declare(
    "q_hll_mergeable_distinct",
    oracle=None,
    description="mergeable HLL sketches: per-group hll_sketch_agg → hll_union_agg rollup (A9 [ext]; rows-only — sketch estimates are engine-specific, merge-consistency asserted in tests)",
)
def q_hll_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale pattern behind incremental distinct counting: build a
    Datasketches HLL per partition-group (here: per order status), then
    merge sketches with ``hll_union_agg`` instead of re-scanning — at
    100 TB, sketches are the only way to roll up distinct counts
    across partitions/days without a global shuffle of raw keys.
    """
    o = load_tables(spark, sf_dir, "orders")["orders"]
    per_status = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey", 14).alias("sk"),
        F.count_distinct("o_custkey").alias("exact_custs"),
    )
    merged = per_status.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_estimate")
    )
    return (
        per_status.select(
            "o_orderstatus",
            F.hll_sketch_estimate("sk").alias("approx_custs"),
            "exact_custs",
        )
        .crossJoin(F.broadcast(merged))
        .orderBy("o_orderstatus")
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


# Fixed-iteration weighted PageRank over the nation trade graph
# (customer nation → supplier nation, edge weight = lineitem count).
# The iterative operator (graph.pagerank) rounds every contribution to
# 12 decimals and accumulates in DECIMAL, so each iterate is exactly
# reproducible — the oracle below UNROLLS the same three iterations in
# SQL and the final rank vector hash-matches.  Teleport/damping
# constants are embedded via repr() so both engines parse the same
# doubles (1.0-0.85 != 0.15 in binary).
_PR_D = 0.85
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    teleport, damp = repr(1.0 - _PR_D), repr(_PR_D)
    cte = [
        """e AS (
  SELECT n1.n_name AS src, n2.n_name AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  GROUP BY 1, 2
)""",
        "nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst AS node FROM e)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "es AS (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS share FROM e)",
        "pr0 AS (SELECT node, CAST(round(1.0 / nn.n, 12) AS DECIMAL(28,12)) AS pr FROM nodes, nn)",
    ]
    for k in range(1, _PR_ITERS + 1):
        cte.append(
            f"""c{k} AS (
  SELECT es.dst AS node, CAST(round(CAST(p.pr AS DOUBLE) * es.share, 12) AS DECIMAL(28,12)) AS c
  FROM es JOIN pr{k - 1} p ON es.src = p.node
)"""
        )
        cte.append(
            f"""pr{k} AS (
  SELECT nodes.node,
         CAST(round({teleport} / nn.n + {damp} * CAST(COALESCE(s.sc, 0) AS DOUBLE), 12) AS DECIMAL(28,12)) AS pr
  FROM nodes
  LEFT JOIN (SELECT node, SUM(c) AS sc FROM c{k} GROUP BY node) s ON nodes.node = s.node, nn
)"""
        )
    return (
        "WITH " + ",\n".join(cte) + f"""
SELECT node AS nation, CAST(pr AS DOUBLE) AS pagerank
FROM pr{_PR_ITERS}
ORDER BY pagerank DESC, nation"""
    )


@declare(
    "q_pagerank_nations",
    oracle=_pagerank_oracle(),
    description="weighted PageRank (3 fixed iterations, decimal-exact accumulation) on the nation trade graph — iterative algorithm with an unrolled-SQL oracle",
)
def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import pagerank

    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    edges = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # broadcast_edges: the aggregated nation graph is ≤ 625 edges at any
    # SF — the dimension-sized case the flag exists for.
    pr = pagerank(
        edges, src="src", dst="dst", weight="w",
        iterations=_PR_ITERS, damping=_PR_D, broadcast_edges=True,
    )
    return pr.select(
        F.col("node").alias("nation"), F.col("pr").cast("double").alias("pagerank")
    ).orderBy(F.col("pagerank").desc(), "nation")


# KMV (k-minimum-values) distinct sketch — the deterministic,
# oracle-checkable complement of the HLL rollup above: keep the k
# smallest md5 hashes of the keys per group; estimate distinct as
# (k-1)/u_k (Bar-Yossef et al.).  Bottom-k is ASSOCIATIVE, so group
# sketches merge exactly (bottom-k of the union of sketches), and the
# whole sketch — not just its estimate — hash-matches cross-engine.
# Scale path: DISTINCT collapses duplicates map-side first; the
# per-group rank window then orders only distinct keys.
_KMV_K = 64
_KMV_U_SQL = """
(list_sum(list_transform(range(1, 14),
    i -> CAST(strpos('0123456789abcdef', substring(h, i, 1)) - 1 AS DOUBLE)
         * (16.0 ^ (13 - i)))) + 0.5) / (16.0 ^ 13)
"""

QKMV_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT o_orderpriority AS grp, o_custkey AS key FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
), h AS (
  SELECT grp, md5(CAST(key AS VARCHAR)) AS h,
         row_number() OVER (PARTITION BY grp ORDER BY md5(CAST(key AS VARCHAR))) AS rn
  FROM d
), kth AS (
  SELECT grp, h AS kth_hash, {_KMV_U_SQL} AS u
  FROM h WHERE rn = {_KMV_K}
), ex AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS true_distinct FROM d GROUP BY grp
)
SELECT ex.grp, kth.kth_hash,
       CAST({_KMV_K} - 1 AS DOUBLE) / kth.u AS est_distinct,
       ex.true_distinct
FROM ex JOIN kth ON ex.grp = kth.grp
ORDER BY ex.grp
"""


@declare(
    "q_kmv_distinct",
    oracle=QKMV_ORACLE,
    description="KMV bottom-k distinct sketch per group: deterministic mergeable cardinality estimate, whole sketch hash-matched (A9 [ext])",
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): a NULL key hashes to a
    # NULL md5 that sorts to opposite ends of the two engines' bottom-k
    orders = orders.filter(
        F.col("o_orderpriority").isNotNull() & F.col("o_custkey").isNotNull()
    )
    d = orders.select(
        F.col("o_orderpriority").alias("grp"), F.col("o_custkey").alias("key")
    ).distinct()
    h = d.select("grp", F.md5(F.col("key").cast("string")).alias("h"))
    w = Window.partitionBy("grp").orderBy("h")
    kth = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _KMV_K)
        .select(
            "grp",
            F.col("h").alias("kth_hash"),
            (
                (F.conv(F.substring("h", 1, 13), 16, 10).cast("double") + F.lit(0.5))
                / F.lit(float(16**13))
            ).alias("u"),
        )
    )
    ex = d.groupBy("grp").agg(F.count(F.lit(1)).alias("true_distinct"))
    return (
        ex.join(kth, "grp")
        .select(
            "grp",
            "kth_hash",
            (F.lit(float(_KMV_K - 1)) / F.col("u")).alias("est_distinct"),
            "true_distinct",
        )
        .orderBy("grp")
    )
