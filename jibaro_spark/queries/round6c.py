"""Round-6c declared queries: weighted shortest paths, monotonic-stack
sequencing, distribution mapping, gap interpolation, drift and
encoding features, and sequential pattern counts.

Same determinism contract as round6b: float outputs are single
deterministic double expressions over exact integer/decimal inputs,
or bit-identical sequential recurrences; the two iterative operators
(SSSP labels, monotonic stack) are oracle-checked against a bounded
RECURSIVE-CTE walk and a correlated MIN subquery respectively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.registry import declare, load_tables

# ---------------------------------------------------------------------------
# Weighted single-source shortest paths over the nation trade graph
# (nations connected when any customer of one bought from a supplier
# of the other; deterministic integer weight (a+b)%9+1).  Spark side
# is graph.sssp — frontier-based distributed Bellman-Ford.  The
# oracle enumerates ALL bounded walk labels with a recursive CTE
# (UNION dedups (node,dist) labels; the 60 bound only truncates walks
# far past the true minima) and takes the per-node MIN — correct for
# any node whose true distance is <= 60, which a 25-node graph with
# max edge weight 9 satisfies with huge margin.
QSSSP_ORACLE = """
WITH RECURSIVE trade AS (
  SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
), edges AS (
  SELECT a AS src, b AS dst, (a + b) % 9 + 1 AS w FROM trade
  UNION ALL
  SELECT b AS src, a AS dst, (a + b) % 9 + 1 AS w FROM trade
), walk AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
  UNION
  SELECT CAST(e.dst AS BIGINT) AS node, w.dist + e.w AS dist
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist + e.w <= 60
)
SELECT node, MIN(dist) AS dist FROM walk GROUP BY node ORDER BY node
"""


@declare(
    "q_sssp_nations",
    oracle=QSSSP_ORACLE,
    description="weighted shortest paths from nation 0 over the trade graph — frontier Bellman-Ford (graph.sssp), bounded recursive-walk oracle (graph [ext])",
)
def q_sssp_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import sssp

    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier")
    trade = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b"))
        .distinct()
    )
    edges = trade.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        ((F.col("a") + F.col("b")) % 9 + 1).alias("weight"),
    )
    sources = spark.range(1).select(F.lit(0).cast("int").alias("node"))
    out = sssp(edges, sources, directed=False)
    return out.select(F.col("node").cast("long"), F.col("dist").cast("long")).orderBy(
        "node"
    )


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
# Population stability index between the pre-1998 and 1998+ order
# populations over fixed 50k price bands, Laplace-smoothed (+1 per
# band over all 10 fixed bands, so empty bands contribute finitely
# and deterministically).  PSI = Σ (p2-p1)·ln(p2/p1); per-band
# contributions emitted.  The band spine is a generated range joined
# left, totals a broadcast row.
QPSI_ORACLE = """
WITH b AS (
  SELECT LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 9) AS band,
         CASE WHEN CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) < DATE '1998-01-01'
              THEN 0 ELSE 1 END AS half
  FROM orders
), spine AS (SELECT CAST(range AS BIGINT) AS band FROM range(0, 10)),
c AS (
  SELECT s.band,
         COALESCE(SUM(CASE WHEN b.half = 0 THEN 1 ELSE 0 END), 0) AS n1,
         COALESCE(SUM(CASE WHEN b.half = 1 THEN 1 ELSE 0 END), 0) AS n2
  FROM spine s LEFT JOIN b ON b.band = s.band
  GROUP BY s.band
), t AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM c)
SELECT band, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       ROUND((CAST(n2 + 1 AS DOUBLE) / (t2 + 10) - CAST(n1 + 1 AS DOUBLE) / (t1 + 10))
             * LN((CAST(n2 + 1 AS DOUBLE) / (t2 + 10))
                  / (CAST(n1 + 1 AS DOUBLE) / (t1 + 10))), 6) AS psi_contrib
FROM c CROSS JOIN t
ORDER BY band
"""


@declare(
    "q_psi_drift",
    oracle=QPSI_ORACLE,
    description="population stability index contributions between pre/post-1998 order populations over fixed price bands — Laplace-smoothed drift monitoring (stats [ext])",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    b = orders.select(
        F.least(F.floor(F.col("o_totalprice") / 50000.0).cast("long"), F.lit(9).cast("long")).alias("band"),
        F.when(F.to_date("o_orderdate") < F.lit("1998-01-01"), 0).otherwise(1).alias("half"),
    )
    spine = spark.range(0, 10).select(F.col("id").alias("band"))
    c = (
        spine.join(b, "band", "left")
        .groupBy("band")
        .agg(
            F.coalesce(F.sum(F.when(F.col("half") == 0, 1).otherwise(0)), F.lit(0)).alias("n1"),
            F.coalesce(F.sum(F.when(F.col("half") == 1, 1).otherwise(0)), F.lit(0)).alias("n2"),
        )
    )
    t = c.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    p1 = (F.col("n1") + 1).cast("double") / (F.col("t1") + 10)
    p2 = (F.col("n2") + 1).cast("double") / (F.col("t2") + 10)
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "band",
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round((p2 - p1) * F.log(p2 / p1), 6).alias("psi_contrib"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding of the customer market segment against
# a high-spend label (exact-decimal spend > 150000): each customer's
# encoded value is (segment positives − own label)/(segment size − 1)
# — the leakage-free categorical encoding.  Segment stats are a keyed
# window over the CUSTOMER table (segment-keyed, never global).
QLOO_ORACLE = """
WITH lab AS (
  SELECT c.c_custkey, c.c_mktsegment,
         CASE WHEN COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) > 150000
              THEN 1 ELSE 0 END AS y
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), seg AS (
  SELECT c_custkey, c_mktsegment, y,
         SUM(y) OVER (PARTITION BY c_mktsegment) AS sy,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM lab
)
SELECT c_custkey, c_mktsegment, CAST(y AS BIGINT) AS y,
       ROUND(CAST(sy - y AS DOUBLE) / (n - 1), 6) AS loo_encoding
FROM seg
ORDER BY c_custkey
"""


@declare(
    "q_loo_target_encoding",
    oracle=QLOO_ORACLE,
    description="leave-one-out target encoding of market segment vs a decimal-exact high-spend label — leakage-free categorical feature (featureeng [ext])",
)
def q_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    lab = (
        t["customer"]
        .join(
            t["orders"].select("o_custkey", "o_totalprice"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.when(
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                    F.lit(0).cast("decimal(18,2)"),
                )
                > 150000,
                1,
            )
            .otherwise(0)
            .alias("y")
        )
    )
    w = Window.partitionBy("c_mktsegment")
    return (
        lab.withColumn("sy", F.sum("y").over(w))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .select(
            "c_custkey",
            "c_mktsegment",
            F.col("y").cast("long").alias("y"),
            F.round((F.col("sy") - F.col("y")).cast("double") / (F.col("n") - 1), 6).alias(
                "loo_encoding"
            ),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Sequential pattern counts: per-user ordered event-type trigrams
# (user-keyed lead windows — the 3-gram extension of the Markov
# transition query), counted corpus-wide.
QTRI_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS a,
         LEAD(event_type, 1) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS b,
         LEAD(event_type, 2) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS c
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
)
SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
GROUP BY a, b, c
ORDER BY a, b, c
"""


@declare(
    "q_event_trigrams",
    oracle=QTRI_ORACLE,
    description="per-user event-type trigram counts — sequential pattern mining via user-keyed lead windows (sequence [ext])",
)
def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeline fence (see q_markov_transitions)
    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    )
    return (
        seq.filter(F.col("b").isNotNull() & F.col("c").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("a", "b", "c")
    )
