"""Round-7 declared queries: operational data-quality, privacy,
experimentation, ER, and ML families that round ≤6 had not covered —
referential-integrity auditing (stale-dimension orphan counts),
table-reconciliation partition checksums, Pareto concentration
cutoffs, weighted medians, Wilson score intervals, A/B
sample-ratio-mismatch screening, inter-order gap analysis, Markov
transition entropy, the two-sample Kolmogorov-Smirnov test with
Benjamini-Hochberg FDR control, CUPED variance reduction,
difference-in-differences, reciprocal best-match and
blocking-quality ER, monthly leaderboard rank churn, the k-anonymity
release audit, 3-iteration Lloyd k-means, the chunked
grouped-prefix-sum demo, and the fully-oracled banded MinHash/SimHash
near-dup pair twins.

Determinism contract (same as round6b-6e): every money sum is decimal,
every ranking carries an explicit tie-break, md5 is the only hash
(identical hex in both engines), and double-typed outputs are either a
single per-row expression (no sum-order sensitivity) or a sum of
per-term decimals rounded BEFORE accumulation, then rounded to 6
decimals for display.

Scale notes (100 TB): every query here is a scan + shuffle-on-group
plan; none materializes more than (groups × distinct-values-per-group)
intermediate rows, no driver collect, dimension key-sets are
broadcast-able.  Reference scope: the reference engine delegates all
relational semantics to Spark (SURVEY §0); these are [ext] families
mandated by the LLM-pipeline/ops brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.llm import _zipgrams
from jibaro_spark.queries.registry import declare, load_tables

_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"

# ---------------------------------------------------------------------------
# Referential-integrity audit ([ext] data quality).  The fixture is
# FK-consistent, so the audit runs against a SIMULATED stale dimension
# snapshot — parent keys divisible by 97 are treated as missing (a
# deterministic stand-in for "the dim table lagged a day behind the
# facts").  One row per FK edge: child rows scanned, orphans, ppm.
# At 100 TB each edge is a left-anti join of the fact against a
# distinct parent key-set — broadcast when the dim fits, shuffle
# anti-join otherwise; Catalyst picks per AQE stats.  No collect.
QFK_ORACLE = """
WITH
o_keys AS (SELECT DISTINCT o_orderkey  AS k FROM orders   WHERE o_orderkey  % 97 <> 0),
p_keys AS (SELECT DISTINCT p_partkey   AS k FROM part     WHERE p_partkey   % 97 <> 0),
s_keys AS (SELECT DISTINCT s_suppkey   AS k FROM supplier WHERE s_suppkey   % 97 <> 0),
c_keys AS (SELECT DISTINCT c_custkey   AS k FROM customer WHERE c_custkey   % 97 <> 0),
n_keys AS (SELECT DISTINCT n_nationkey AS k FROM nation   WHERE n_nationkey % 97 <> 0),
edges AS (
  SELECT 'lineitem->orders' AS fk_edge, COUNT(*) AS n_child,
         SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS n_orphan
  FROM lineitem LEFT JOIN o_keys ON l_orderkey = k
  UNION ALL
  SELECT 'lineitem->part', COUNT(*),
         SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
  FROM lineitem LEFT JOIN p_keys ON l_partkey = k
  UNION ALL
  SELECT 'lineitem->supplier', COUNT(*),
         SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
  FROM lineitem LEFT JOIN s_keys ON l_suppkey = k
  UNION ALL
  SELECT 'orders->customer', COUNT(*),
         SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
  FROM orders LEFT JOIN c_keys ON o_custkey = k
  UNION ALL
  SELECT 'customer->nation', COUNT(*),
         SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
  FROM customer LEFT JOIN n_keys ON c_nationkey = k
)
SELECT fk_edge,
       CAST(n_child AS BIGINT) AS n_child,
       CAST(n_orphan AS BIGINT) AS n_orphan,
       ROUND(CAST(n_orphan AS DOUBLE) * 1000000 / CAST(n_child AS DOUBLE), 1)
         AS orphan_ppm
FROM edges
ORDER BY fk_edge
"""


@declare(
    "q_fk_orphan_audit",
    oracle=QFK_ORACLE,
    description="Referential-integrity audit vs a simulated stale dimension snapshot (keys %97 missing): orphan count + ppm per FK edge (DQ [ext])",
)
def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "customer", "nation"
    )

    def edge(child: DataFrame, child_key: str, parent: DataFrame, parent_key: str,
             name: str, broadcast_dim: bool = False) -> DataFrame:
        # Hint broadcast ONLY for genuinely dimension-sized parents
        # (nation/supplier — bounded key sets); orders/part/customer
        # key-sets are fact-scale, and a forced broadcast of those
        # would OOM a 1000-executor cluster.  AQE picks broadcast vs
        # shuffle from runtime stats for the unhinted edges.
        keys = (
            parent.where(F.col(parent_key) % 97 != 0)
            .select(F.col(parent_key).alias("__k"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        if broadcast_dim:
            keys = F.broadcast(keys)
        joined = child.join(keys, child[child_key] == F.col("__k"), "left")
        return joined.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias("n_orphan"),
        )

    edges = [
        edge(t["lineitem"], "l_orderkey", t["orders"], "o_orderkey", "lineitem->orders"),
        edge(t["lineitem"], "l_partkey", t["part"], "p_partkey", "lineitem->part"),
        edge(t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey",
             "lineitem->supplier", broadcast_dim=True),
        edge(t["orders"], "o_custkey", t["customer"], "c_custkey", "orders->customer"),
        edge(t["customer"], "c_nationkey", t["nation"], "n_nationkey",
             "customer->nation", broadcast_dim=True),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out.select(
        "fk_edge",
        F.col("n_child").cast("bigint").alias("n_child"),
        F.col("n_orphan").cast("bigint").alias("n_orphan"),
        F.round(
            F.col("n_orphan").cast("double") * 1000000 / F.col("n_child").cast("double"),
            1,
        ).alias("orphan_ppm"),
    ).orderBy("fk_edge")


# ---------------------------------------------------------------------------
# Table-reconciliation partition checksums ([ext] ops).  Replica
# divergence detection without moving data: bucket rows by key, sum a
# per-row 48-bit md5-derived fingerprint per bucket — two replicas
# compare 64 (bucket, n_rows, checksum) triples instead of 100 TB of
# rows, and a mismatched bucket localizes the diff to 1/64 of the
# table.  The fingerprint uses only integer-typed columns so the
# string rendering is engine-independent; the sum ACCUMULATES as
# DECIMAL(38,0) so it never wraps (2^48 × 10^12 rows < 10^27), and the
# PUBLISHED checksum is that exact sum reduced mod 2^61−1 (Mersenne) —
# a standard modular fingerprint that fits BIGINT, keeping the output
# boundary engine-neutral (DECIMAL(38,0) at the boundary was the r6
# red-row class).  Map-side partial aggregation makes this one scan +
# a 64-row shuffle.
_CHK_MOD = 2305843009213693951  # 2^61 - 1

QCHK_ORACLE = f"""
SELECT l_orderkey % 64 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(CAST(SUM(CAST(CAST(('0x' || substr(
              md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                  CAST(l_linenumber AS VARCHAR) || '|' ||
                  CAST(l_partkey AS VARCHAR) || '|' ||
                  CAST(l_suppkey AS VARCHAR)), 1, 12)) AS BIGINT)
            AS DECIMAL(28,0))) AS DECIMAL(38,0)) AS HUGEINT)
            % {_CHK_MOD} AS BIGINT) AS checksum
FROM lineitem
WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
  AND l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
GROUP BY 1
ORDER BY 1
"""


@declare(
    "q_partition_checksums",
    oracle=QCHK_ORACLE,
    description="Per-bucket md5 row-fingerprint checksums for cross-replica table reconciliation — 64 rows summarize the whole table (ops [ext])",
)
def q_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): every fingerprint column
    # must be defined — concat_ws skips NULL parts where SQL ||
    # propagates them, silently checksumming different strings
    li = li.filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
        & F.col("l_partkey").isNotNull()
        & F.col("l_suppkey").isNotNull()
    )
    # Spread the per-row md5 fingerprint map (guide §2.5 input skew —
    # the single-file scan otherwise runs it on one core), shuffling
    # ONLY the four key columns (guide §2.3 project-before-exchange).
    # Deterministic hash on the key; no-op on an already-parallel scan.
    # Measured 1.8-2.2 → 1.0-1.2 s at sf0.1 in a same-session ABAB.
    from jibaro_spark.operators.util import ensure_parallelism

    li = ensure_parallelism(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        by="l_orderkey",
    )
    fp = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.col("l_partkey").cast("string"),
                    F.col("l_suppkey").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("decimal(28,0)")
    return (
        li.groupBy((F.col("l_orderkey") % 64).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            # exact decimal accumulation, modular BIGINT boundary
            (F.sum(fp).cast("decimal(38,0)") % F.lit(_CHK_MOD))
            .cast("long")
            .alias("checksum"),
        )
        .orderBy("bucket")
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
# Weighted median ([ext] stats).  Quantity-weighted median of extended
# price per return flag: the smallest price whose cumulative weight
# reaches half the total — entirely in decimal (2*cum >= tot), ties
# merged by grouping on price first so the ECDF is well-defined.
# Plan: group (flag, price) with map-side combine, then a window over
# the distinct-price-sized table.
QWMED_ORACLE = """
WITH d AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS w
  FROM lineitem
  GROUP BY 1, 2
), c AS (
  SELECT l_returnflag, price,
         CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(28,2)) AS cum,
         CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS DECIMAL(28,2)) AS tot
  FROM d
)
SELECT l_returnflag,
       CAST(CAST(MIN(price) AS DECIMAL(18,2)) AS DOUBLE) AS weighted_median,
       CAST(CAST(MAX(tot) AS DECIMAL(28,2)) AS DOUBLE) AS total_weight
FROM c WHERE cum * 2 >= tot
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@declare(
    "q_weighted_median",
    oracle=QWMED_ORACLE,
    description="Quantity-weighted median extended price per return flag via decimal cumulative-weight threshold (stats [ext])",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # project + hash-spread before the distinct-(flag, price) weight
    # agg (r12, the moment-pass treatment — the partials otherwise run
    # on the single-row-group scan's ONE core; decimal sums are
    # order-free exact)
    from jibaro_spark.operators.util import ensure_parallelism

    li = ensure_parallelism(
        li.select("l_returnflag", "l_extendedprice", "l_quantity"),
        by="l_extendedprice",
    )
    d = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").cast("decimal(18,2)").alias("price")
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("w")
    )
    # NOTE (r12): a flag-keyed dense_exchange before the ECDF windows
    # ABAB-measured WORSE here (+0.4 — only 3 distinct flags, so the
    # explicit exchange buys ≤3 tasks and costs a real shuffle of the
    # distinct-value table); the input spread above is the win.
    cum_w = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flag_w = Window.partitionBy("l_returnflag")
    c = d.select(
        "l_returnflag",
        "price",
        F.sum("w").over(cum_w).cast("decimal(28,2)").alias("cum"),
        F.sum("w").over(flag_w).cast("decimal(28,2)").alias("tot"),
    )
    return (
        c.where(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            # selection in decimal, engine-neutral DOUBLE at the boundary
            F.min("price").cast("decimal(18,2)").cast("double").alias(
                "weighted_median"
            ),
            F.max("tot").cast("decimal(28,2)").cast("double").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Wilson score interval ([ext] stats).  Per order priority: the share
# of orders above 150k with a 95% Wilson CI — the interval that stays
# inside [0,1] at small n, the standard for conversion-rate
# dashboards.  k and n are exact bigints; the CI is one per-row double
# expression (identical literal structure in both engines, no
# accumulation-order sensitivity), rounded to 6.
QWILSON_ORACLE = """
WITH s AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM orders GROUP BY 1
)
SELECT o_orderpriority, n, k,
       ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
       ROUND((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + 1.9208 / CAST(n AS DOUBLE)
              - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                            * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                            + 0.9604 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1 + 3.8416 / CAST(n AS DOUBLE)), 6) AS wilson_lo,
       ROUND((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + 1.9208 / CAST(n AS DOUBLE)
              + 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                            * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                            + 0.9604 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1 + 3.8416 / CAST(n AS DOUBLE)), 6) AS wilson_hi
FROM s
ORDER BY o_orderpriority
"""


@declare(
    "q_wilson_ci",
    oracle=QWILSON_ORACLE,
    description="Wilson 95% score interval for the high-value-order rate per priority — the small-n-safe proportion CI (stats [ext])",
)
def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    half = 1.96 * F.sqrt(p * (1 - p) / nd + 0.9604 / (nd * nd))
    denom = 1 + 3.8416 / nd
    center = p + 1.9208 / nd
    return s.select(
        "o_orderpriority",
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Sample-ratio mismatch screen ([ext] experimentation).  Orders are
# hash-split 50/50 into arms A/B by the first md5 nibble of the order
# key (the deterministic assignment any engine reproduces); per
# priority the z-score of the observed split flags broken
# randomization (|z| > 3).  One scan, 5-row output, no shuffle beyond
# the group-by.
QSRM_ORACLE = """
WITH s AS (
  SELECT o_orderpriority,
         CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7') THEN 0 ELSE 1 END)
              AS BIGINT) AS n_b
  FROM orders GROUP BY 1
)
SELECT o_orderpriority, n_a, n_b,
       ROUND(CAST(n_a - n_b AS DOUBLE) / sqrt(CAST(n_a + n_b AS DOUBLE)), 6) AS z,
       CASE WHEN abs(CAST(n_a - n_b AS DOUBLE) / sqrt(CAST(n_a + n_b AS DOUBLE))) > 3
            THEN 1 ELSE 0 END AS srm_flag
FROM s
ORDER BY o_orderpriority
"""


@declare(
    "q_srm_check",
    oracle=QSRM_ORACLE,
    description="A/B hash-split sample-ratio-mismatch z-screen per priority: md5-nibble arm assignment, |z|>3 flag (experimentation [ext])",
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    arm_a = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin(
        *"01234567"
    )
    s = o.groupBy("o_orderpriority").agg(
        F.sum(F.when(arm_a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(arm_a, 0).otherwise(1)).cast("bigint").alias("n_b"),
    )
    z = (F.col("n_a") - F.col("n_b")).cast("double") / F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
    )
    return s.select(
        "o_orderpriority",
        "n_a",
        "n_b",
        F.round(z, 6).alias("z"),
        F.when(F.abs(z) > 3, 1).otherwise(0).alias("srm_flag"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Inter-order gap analysis ([ext] analytics).  Per customer the gaps
# in days between consecutive orders (lag window, orderkey
# tie-break), aggregated per nation: mean/max gap and gap count.
# Integer day arithmetic end-to-end; the mean is a single exact
# bigint-sum / count division rounded at display.  Plan: one orders
# scan, window on custkey, broadcast customer->nation, nation-sized
# output.
QGAP_ORACLE = """
WITH g AS (
  SELECT o_custkey,
         date_diff('day',
                   CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap
  FROM orders
), gn AS (
  SELECT c.c_nationkey, g.gap FROM g JOIN customer c ON g.o_custkey = c.c_custkey
  WHERE g.gap IS NOT NULL
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(CAST(SUM(gn.gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS avg_gap_days,
       CAST(MAX(gn.gap) AS BIGINT) AS max_gap_days
FROM gn JOIN nation n ON gn.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
"""


@declare(
    "q_order_gap_stats",
    oracle=QGAP_ORACLE,
    description="Inter-order gap-in-days stats per nation from a lag window over each customer's order history (analytics [ext])",
)
def q_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = t["orders"].select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap"),
    ).where(F.col("gap").isNotNull())
    gn = g.join(
        F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return (
        gn.join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.round(
                F.sum("gap").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("avg_gap_days"),
            F.max("gap").cast("bigint").alias("max_gap_days"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Markov transition entropy ([ext] sequence analytics).  The
# complement of q_markov_transitions: per SOURCE event type, the
# Shannon entropy of the next-event distribution — how predictable
# each state is.  Float-determinism: each -p*ln(p) term is rounded to
# 10 decimals and accumulated as DECIMAL(18,10), so the sum is exact
# and engine-order-independent; display rounds to 6.  Plan: lag
# window per user, then two transition-table-sized aggregations.
QTRANSENT_ORACLE = """
WITH seq AS (
  SELECT event_type AS dst,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), tr AS (
  SELECT src, dst, COUNT(*) AS nij FROM seq WHERE src IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT src, SUM(nij) AS ni, COUNT(*) AS n_dst FROM tr GROUP BY 1
)
SELECT tr.src AS event_type,
       CAST(MAX(tot.ni) AS BIGINT) AS n_transitions,
       CAST(MAX(tot.n_dst) AS BIGINT) AS n_next_types,
       ROUND(CAST(SUM(CAST(ROUND(
           -(CAST(tr.nij AS DOUBLE) / CAST(tot.ni AS DOUBLE))
           * ln(CAST(tr.nij AS DOUBLE) / CAST(tot.ni AS DOUBLE)), 10)
         AS DECIMAL(18,10))) AS DOUBLE), 6) AS entropy_nats
FROM tr JOIN tot ON tr.src = tot.src
GROUP BY tr.src
ORDER BY tr.src
"""


@declare(
    "q_transition_entropy",
    oracle=QTRANSENT_ORACLE,
    description="Shannon entropy of each event type's next-event distribution (decimal-accumulated terms, order-independent) (sequence [ext])",
)
def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeline fence (see q_markov_transitions)
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("dst"),
        F.lag("event_type").over(w).alias("src"),
    ).where(F.col("src").isNotNull())
    tr = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("nij"))
    tot = tr.groupBy("src").agg(
        F.sum("nij").alias("ni"), F.count(F.lit(1)).alias("n_dst")
    )
    p = F.col("nij").cast("double") / F.col("ni").cast("double")
    term = F.round(-p * F.log(p), 10).cast("decimal(18,10)")
    return (
        tr.join(tot, "src")
        .groupBy(F.col("src").alias("event_type"))
        .agg(
            F.max("ni").cast("bigint").alias("n_transitions"),
            F.max("n_dst").cast("bigint").alias("n_next_types"),
            F.round(F.sum(term).cast("double"), 6).alias("entropy_nats"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov ([ext] stats).  D statistic between
# the order-value distributions of every pair of order priorities.
# The ECDF difference is computed in INTEGER arithmetic —
# D = max|cumA*nB - cumB*nA| / (nA*nB) — so the max is exact and only
# the final division is floating point.  Plan: counts per
# (priority, price) first (map-side combine), a 10-way pair fan-out of
# that distinct-value-sized table, one window per pair.  Completes the
# round6 rank-test family (Welch t, Mann-Whitney U, Kruskal-Wallis).
QKS_ORACLE = """
WITH d AS (
  SELECT o_orderpriority AS pr, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
), pairs AS (
  SELECT a.pr AS pa, b.pr AS pb
  FROM (SELECT DISTINCT pr FROM d) a JOIN (SELECT DISTINCT pr FROM d) b
  ON a.pr < b.pr
), pooled AS (
  SELECT p.pa, p.pb, d.v,
         SUM(CASE WHEN d.pr = p.pa THEN d.cnt ELSE 0 END) AS da,
         SUM(CASE WHEN d.pr = p.pb THEN d.cnt ELSE 0 END) AS db
  FROM pairs p JOIN d ON d.pr IN (p.pa, p.pb)
  GROUP BY 1, 2, 3
), c AS (
  SELECT pa, pb,
         SUM(da) OVER (PARTITION BY pa, pb ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(db) OVER (PARTITION BY pa, pb ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         SUM(da) OVER (PARTITION BY pa, pb) AS na,
         SUM(db) OVER (PARTITION BY pa, pb) AS nb
  FROM pooled
)
SELECT pa, pb,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       ROUND(CAST(MAX(abs(ca * nb - cb * na)) AS DOUBLE)
             / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)), 6) AS ks_d
FROM c
GROUP BY pa, pb
ORDER BY pa, pb
"""


@declare(
    "q_ks_test",
    oracle=QKS_ORACLE,
    description="Two-sample Kolmogorov-Smirnov D for every order-priority pair, integer-exact ECDF gap maximization (stats [ext])",
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    d = o.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # r13: the 10-way pair fan-out below is a broadcast NL join whose
    # stream side is d's agg output — AQE coalesces the byte-small agg
    # to 1-2 partitions, so the ~1.5M OR-predicate evaluations and the
    # pooled partial aggs ran on 1-2 cores.  A value-keyed dense
    # exchange keeps that stage parallel (the r12 spread-at-the-
    # CPU-dense-map pattern).
    from jibaro_spark.operators.util import dense_exchange

    d = dense_exchange(d, "v")
    prs = d.select("pr").distinct()
    pairs = (
        prs.alias("a")
        .join(prs.alias("b"), F.col("a.pr") < F.col("b.pr"))
        .select(F.col("a.pr").alias("pa"), F.col("b.pr").alias("pb"))
    )
    pooled = (
        F.broadcast(pairs)
        .join(d, (d["pr"] == F.col("pa")) | (d["pr"] == F.col("pb")))
        .groupBy("pa", "pb", "v")
        .agg(
            F.sum(F.when(F.col("pr") == F.col("pa"), F.col("cnt")).otherwise(0)).alias("da"),
            F.sum(F.when(F.col("pr") == F.col("pb"), F.col("cnt")).otherwise(0)).alias("db"),
        )
    )
    cum = (
        Window.partitionBy("pa", "pb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pw = Window.partitionBy("pa", "pb")
    # explicit pair-keyed exchange (r12, see dense_exchange): the ECDF
    # windows are CPU-dense over byte-small input and AQE coalescing
    # otherwise runs the 10 pair groups on 2-3 tasks
    from jibaro_spark.operators.util import dense_exchange

    pooled = dense_exchange(pooled, "pa", "pb")
    c = pooled.select(
        "pa",
        "pb",
        F.sum("da").over(cum).alias("ca"),
        F.sum("db").over(cum).alias("cb"),
        F.sum("da").over(pw).alias("na"),
        F.sum("db").over(pw).alias("nb"),
    )
    return (
        c.groupBy("pa", "pb")
        .agg(
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
            F.round(
                F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))).cast(
                    "double"
                )
                / (F.max("na").cast("double") * F.max("nb").cast("double")),
                6,
            ).alias("ks_d"),
        )
        .orderBy("pa", "pb")
    )


# ---------------------------------------------------------------------------
# Banded MinHash-LSH near-duplicate PAIRS, fully oracle-checked ([ext]
# dedup).  The production pipeline (q_minhash_near_dup, xxhash64) gets
# a rows-only driver check; THIS twin runs the identical pipeline —
# signature → 4 bands × 4 slots → band-hash self-join → slot-match
# verify — in md5 verifiable mode, so DuckDB replays candidate
# generation AND verification and the driver hash-checks the whole
# near-dup join, not just its row count.  Verification threshold is
# integer (≥ 8 of 16 slots agree ⇔ est Jaccard ≥ 0.5); the band join
# carries only (id, band_idx, band_hash) and signatures join back to
# the deduplicated candidates, mirroring the production operator's
# shuffle discipline (operators/dedup.py:167).
QMHPAIRS_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKS} AS words FROM documents
), t AS (
  SELECT doc_id, list_distinct({_zipgrams('words', 3)}) AS sh FROM tk
), s AS (
  SELECT doc_id, i.range AS slot, min(md5(CAST(i.range AS VARCHAR) || '|' || u.g)) AS m
  FROM t, unnest(t.sh) AS u(g), range(0, 16) AS i
  GROUP BY doc_id, i.range
), sig AS (
  SELECT doc_id, list(m ORDER BY slot) AS slots FROM s GROUP BY doc_id
), banded AS (
  SELECT doc_id, b.range AS band_idx,
         md5(array_to_string(list_slice(slots, CAST(b.range*4+1 AS BIGINT),
                                        CAST(b.range*4+4 AS BIGINT)), ',')) AS band_hash
  FROM sig, range(0, 4) AS b
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), verified AS (
  SELECT c.id_a, c.id_b,
         SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS matches
  FROM cand c
  JOIN s sa ON sa.doc_id = c.id_a
  JOIN s sb ON sb.doc_id = c.id_b AND sb.slot = sa.slot
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       ROUND(CAST(matches AS DOUBLE) / 16, 6) AS est_jaccard
FROM verified
WHERE matches >= 8
ORDER BY id_a, id_b
"""


@declare(
    "q_minhash_band_pairs",
    oracle=QMHPAIRS_ORACLE,
    description="Banded MinHash-LSH near-dup pairs in md5 verifiable mode — candidate generation AND slot-match verify fully oracle-checked (J5 [ext])",
)
def q_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.dedup import minhash_slots_md5
    from jibaro_spark.operators.util import ensure_parallelism

    # NULL text has no signature (NULL-fuzz sweep)
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("text").isNotNull()
    )
    # r12 (guide §2.5/§2.4): the 16-slot md5 signature map ran on the
    # single-row-group scan's ONE core, and `sig` has FOUR consumers
    # (the band self-join's two sides + the two verify join-backs), so
    # the unpinned map re-executed per consumer — 8.5 s at sf0.1.
    # Spread before the map; lazy pin so the first consumer's job
    # materializes the signatures once.
    docs = ensure_parallelism(docs.select("doc_id", "text"), by="doc_id")
    sig = docs.select(
        F.col("doc_id").alias("__id"),
        minhash_slots_md5(F.col("text"), num_hashes=16, shingle_n=3).alias("__slots"),
    ).localCheckpoint(eager=False)
    banded = sig.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.md5(
                        F.concat_ws(",", F.slice("__slots", b * 4 + 1, 4))
                    ).alias("band_hash"),
                ),
            )
        ).alias("bb"),
    ).select("__id", "bb.band_idx", "bb.band_hash")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    withsigs = (
        cand.join(sig.select(F.col("__id").alias("id_a"), F.col("__slots").alias("sa")), "id_a")
        .join(sig.select(F.col("__id").alias("id_b"), F.col("__slots").alias("sb")), "id_b")
    )
    matches = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        withsigs.withColumn("matches", matches)
        .where(F.col("matches") >= 8)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("matches").cast("double") / 16, 6).alias("est_jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Reciprocal best match ([ext] entity resolution).  "Best substitute"
# assignment over parts: within a type, each part's best match is its
# nearest neighbor by retail price; pairs where the choice is MUTUAL
# are emitted.  In 1-D sorted order the nearest neighbor is one of the
# two ADJACENT rows, so candidate generation is a lead/lag window —
# O(n) per type, never the within-group quadratic join naive substring
# matching would do.  Ties break by (diff, neighbor key) so the
# argmin is total; reciprocity check is one self-join on the directed
# best-edge table.
QRBM_ORACLE = """
WITH w AS (
  SELECT p_partkey, p_type, CAST(p_retailprice AS DECIMAL(18,2)) AS price,
         LAG(p_partkey)  OVER o AS prev_k, LAG(CAST(p_retailprice AS DECIMAL(18,2)))  OVER o AS prev_p,
         LEAD(p_partkey) OVER o AS next_k, LEAD(CAST(p_retailprice AS DECIMAL(18,2))) OVER o AS next_p
  FROM part
  WINDOW o AS (PARTITION BY p_type ORDER BY CAST(p_retailprice AS DECIMAL(18,2)), p_partkey)
), best AS (
  SELECT p_partkey, p_type,
         CASE
           WHEN prev_k IS NULL AND next_k IS NULL THEN NULL
           WHEN prev_k IS NULL THEN next_k
           WHEN next_k IS NULL THEN prev_k
           WHEN abs(price - prev_p) < abs(next_p - price) THEN prev_k
           WHEN abs(next_p - price) < abs(price - prev_p) THEN next_k
           ELSE least(prev_k, next_k)
         END AS best_k,
         CASE
           WHEN prev_k IS NULL AND next_k IS NULL THEN NULL
           WHEN prev_k IS NULL THEN abs(next_p - price)
           WHEN next_k IS NULL THEN abs(price - prev_p)
           ELSE least(abs(price - prev_p), abs(next_p - price))
         END AS diff
  FROM w
)
SELECT a.p_type,
       a.p_partkey AS part_a, b.p_partkey AS part_b,
       CAST(CAST(a.diff AS DECIMAL(18,2)) AS DOUBLE) AS price_diff
FROM best a JOIN best b
  ON a.best_k = b.p_partkey AND b.best_k = a.p_partkey
 AND a.p_partkey < b.p_partkey
ORDER BY a.p_type, part_a
"""


@declare(
    "q_recip_best_match",
    oracle=QRBM_ORACLE,
    description="Reciprocal nearest-price substitute pairs per part type via adjacency windows — mutual-best entity matching without quadratic joins (ER [ext])",
)
def q_recip_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_tables(spark, sf_dir, "part")["part"]
    price = F.col("p_retailprice").cast("decimal(18,2)")
    o = Window.partitionBy("p_type").orderBy(price.asc(), F.col("p_partkey").asc())
    w = part.select(
        "p_partkey",
        "p_type",
        price.alias("price"),
        F.lag("p_partkey").over(o).alias("prev_k"),
        F.lag(price).over(o).alias("prev_p"),
        F.lead("p_partkey").over(o).alias("next_k"),
        F.lead(price).over(o).alias("next_p"),
    )
    dprev = F.abs(F.col("price") - F.col("prev_p"))
    dnext = F.abs(F.col("next_p") - F.col("price"))
    best = w.select(
        "p_partkey",
        "p_type",
        F.when(F.col("prev_k").isNull() & F.col("next_k").isNull(), F.lit(None))
        .when(F.col("prev_k").isNull(), F.col("next_k"))
        .when(F.col("next_k").isNull(), F.col("prev_k"))
        .when(dprev < dnext, F.col("prev_k"))
        .when(dnext < dprev, F.col("next_k"))
        .otherwise(F.least("prev_k", "next_k"))
        .alias("best_k"),
        F.when(F.col("prev_k").isNull() & F.col("next_k").isNull(), F.lit(None))
        .when(F.col("prev_k").isNull(), dnext)
        .when(F.col("next_k").isNull(), dprev)
        .otherwise(F.least(dprev, dnext))
        .alias("diff"),
    )
    a, b = best.alias("a"), best.alias("b")
    return (
        a.join(
            b,
            (F.col("a.best_k") == F.col("b.p_partkey"))
            & (F.col("b.best_k") == F.col("a.p_partkey"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_type").alias("p_type"),
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.diff").cast("decimal(18,2)").cast("double").alias("price_diff"),
        )
        .orderBy("p_type", "part_a")
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the KS pair family ([ext] stats).  The
# 10 priority-pair KS tests are a multiple-testing family; BH at
# α=0.05 finds the largest k with p(k) ≤ k·α/m and flags ranks ≤ k.
# p-values use the two-term asymptotic KS tail 2·exp(−2D²·nanb/(na+nb))
# computed from the SAME integer-exact D numerator as q_ks_test, then
# ROUNDED TO 10 DECIMALS before any comparison — the rounded decimal
# is what both engines rank and threshold, so IEEE exp ulps cannot
# flip a flag.  The BH scan is a 10-row window; everything upstream is
# the distinct-value KS shape.
QBH_ORACLE = """
WITH d AS (
  SELECT o_orderpriority AS pr, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
), pairs AS (
  SELECT a.pr AS pa, b.pr AS pb
  FROM (SELECT DISTINCT pr FROM d) a JOIN (SELECT DISTINCT pr FROM d) b
  ON a.pr < b.pr
), pooled AS (
  SELECT p.pa, p.pb, d.v,
         SUM(CASE WHEN d.pr = p.pa THEN d.cnt ELSE 0 END) AS da,
         SUM(CASE WHEN d.pr = p.pb THEN d.cnt ELSE 0 END) AS db
  FROM pairs p JOIN d ON d.pr IN (p.pa, p.pb)
  GROUP BY 1, 2, 3
), c AS (
  SELECT pa, pb,
         SUM(da) OVER (PARTITION BY pa, pb ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(db) OVER (PARTITION BY pa, pb ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         SUM(da) OVER (PARTITION BY pa, pb) AS na,
         SUM(db) OVER (PARTITION BY pa, pb) AS nb
  FROM pooled
), ks AS (
  SELECT pa, pb, MAX(na) AS na, MAX(nb) AS nb,
         MAX(abs(ca * nb - cb * na)) AS num
  FROM c GROUP BY pa, pb
), pv AS (
  SELECT pa, pb,
         CAST(ROUND(least(1.0,
           2 * exp(-2.0 * (CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
                        * (CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
                        * (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))))
         ), 10) AS DECIMAL(12,10)) AS p
  FROM ks
), ranked AS (
  SELECT pa, pb, p,
         ROW_NUMBER() OVER (ORDER BY p, pa, pb) AS rk,
         COUNT(*) OVER () AS m
  FROM pv
), cut AS (
  SELECT COALESCE(MAX(CASE WHEN p * m * 20 <= rk THEN rk END), 0) AS k FROM ranked
)
SELECT r.pa, r.pb,
       CAST(CAST(r.p AS DECIMAL(12,10)) AS DOUBLE) AS p_value,
       CAST(r.rk AS BIGINT) AS p_rank,
       CASE WHEN r.rk <= cut.k THEN 1 ELSE 0 END AS significant
FROM ranked r CROSS JOIN cut
ORDER BY r.pa, r.pb
"""


@declare(
    "q_bh_fdr",
    oracle=QBH_ORACLE,
    description="Benjamini-Hochberg FDR correction over the 10 KS priority-pair p-values — decimal-rounded p before rank/threshold, α=0.05 (stats [ext])",
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    d = o.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    prs = d.select("pr").distinct()
    pairs = (
        prs.alias("a")
        .join(prs.alias("b"), F.col("a.pr") < F.col("b.pr"))
        .select(F.col("a.pr").alias("pa"), F.col("b.pr").alias("pb"))
    )
    pooled = (
        F.broadcast(pairs)
        .join(d, (d["pr"] == F.col("pa")) | (d["pr"] == F.col("pb")))
        .groupBy("pa", "pb", "v")
        .agg(
            F.sum(F.when(F.col("pr") == F.col("pa"), F.col("cnt")).otherwise(0)).alias("da"),
            F.sum(F.when(F.col("pr") == F.col("pb"), F.col("cnt")).otherwise(0)).alias("db"),
        )
    )
    cum = (
        Window.partitionBy("pa", "pb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pw = Window.partitionBy("pa", "pb")
    # explicit pair-keyed exchange (r12, the q_ks_test treatment —
    # same pooled-pair ECDF shape): the windows are CPU-dense over
    # byte-small input and AQE coalescing otherwise runs the 10 pair
    # groups on 2-3 tasks
    from jibaro_spark.operators.util import dense_exchange

    pooled = dense_exchange(pooled, "pa", "pb")
    c = pooled.select(
        "pa", "pb",
        F.sum("da").over(cum).alias("ca"),
        F.sum("db").over(cum).alias("cb"),
        F.sum("da").over(pw).alias("na"),
        F.sum("db").over(pw).alias("nb"),
    )
    ks = c.groupBy("pa", "pb").agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))).alias("num"),
    )
    dd_ = F.col("num").cast("double") / (F.col("na").cast("double") * F.col("nb").cast("double"))
    neff = F.col("na").cast("double") * F.col("nb").cast("double") / (
        F.col("na").cast("double") + F.col("nb").cast("double")
    )
    pv = ks.select(
        "pa", "pb",
        F.round(F.least(F.lit(1.0), 2 * F.exp(-2.0 * dd_ * dd_ * neff)), 10)
        .cast("decimal(12,10)")
        .alias("p"),
    )
    rw = Window.orderBy("p", "pa", "pb")
    ranked = pv.select(
        "pa", "pb", "p",
        F.row_number().over(rw).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    cut = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("p") * F.col("m") * 20 <= F.col("rk"), F.col("rk"))),
            F.lit(0),
        ).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(cut))
        .select(
            "pa", "pb",
            F.col("p").cast("decimal(12,10)").cast("double").alias("p_value"),
            F.col("rk").cast("bigint").alias("p_rank"),
            F.when(F.col("rk") <= F.col("k"), 1).otherwise(0).alias("significant"),
        )
        .orderBy("pa", "pb")
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction ([ext] experimentation).  Users hash-split
# into arms; each user's pre-period activity (before the Jan-16
# cutoff) is the covariate, post-period activity the metric.
# θ = cov(x,y)/var(x) from exact integer sufficient statistics (values
# in cents, DECIMAL(38,0) sums), cast to double only inside the single
# θ/mean expressions and rounded to 10 before reuse.  The adjusted
# mean  ȳ_arm − θ·(x̄_arm − x̄)  is the industry-standard experiment
# variance cut.  Plan: one events scan → per-user agg → one global +
# one per-arm 2-row agg; nothing wider than the user table shuffles.
QCUPED_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ts <  TIMESTAMP '2024-01-16' THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS DECIMAL(18,0)) AS x,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS DECIMAL(18,0)) AS y,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
  FROM events GROUP BY user_id
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx, CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(x*y) AS DECIMAL(38,0)) AS sxy, CAST(SUM(x*x) AS DECIMAL(38,0)) AS sxx
  FROM u
), th AS (
  SELECT n, sx,
         ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 10) AS theta,
         ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 10) AS gx
  FROM g
)
SELECT a.arm,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(a.y) AS DOUBLE) / COUNT(*) / 100, 6) AS mean_post,
       ROUND(th.theta, 6) AS theta,
       ROUND((CAST(SUM(a.y) AS DOUBLE) / COUNT(*)
              - th.theta * (CAST(SUM(a.x) AS DOUBLE) / COUNT(*) - th.gx)) / 100, 6) AS cuped_mean_post
FROM u a CROSS JOIN th
GROUP BY a.arm, th.theta, th.gx
ORDER BY a.arm
"""


@declare(
    "q_cuped_adjust",
    oracle=QCUPED_ORACLE,
    description="CUPED variance-reduced arm means: pre-period covariate θ from exact integer sufficient stats, md5 arm split (experimentation [ext])",
)
def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    cutoff = F.lit("2024-01-16").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, cents).otherwise(0))
        .cast("decimal(18,0)")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= cutoff, cents).otherwise(0))
        .cast("decimal(18,0)")
        .alias("y"),
    ).withColumn(
        "arm",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(*"01234567"),
            "A",
        ).otherwise("B"),
    )
    g = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    th = g.select(
        F.round(
            (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")),
            10,
        ).alias("theta"),
        F.round(F.col("sx").cast("double") / nd, 10).alias("gx"),
    )
    return (
        u.crossJoin(F.broadcast(th))
        .groupBy("arm", "theta", "gx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("y").cast("double").alias("sy_arm"),
            F.sum("x").cast("double").alias("sx_arm"),
        )
        .select(
            "arm",
            "n_users",
            F.round(F.col("sy_arm") / F.col("n_users") / 100, 6).alias("mean_post"),
            F.round(F.col("theta"), 6).alias("theta"),
            F.round(
                (
                    F.col("sy_arm") / F.col("n_users")
                    - F.col("theta") * (F.col("sx_arm") / F.col("n_users") - F.col("gx"))
                )
                / 100,
                6,
            ).alias("cuped_mean_post"),
        )
        .orderBy("arm")
    )


# ---------------------------------------------------------------------------
# Blocking-quality statistics ([ext] entity-resolution evaluation).
# Before running any similarity join, a blocking scheme is judged by
# (a) reduction ratio — candidate pairs vs the full cross product —
# and (b) block-size skew — the largest block dominates the join's
# straggler task.  Both are pure aggregates over block sizes:
# Σ s·(s−1)/2 in DECIMAL (no overflow at 10^12 rows), never
# materializing a single pair.  Two schemes compared — nation-only vs
# (nation, segment) — one row per scheme, the comparison an ER
# engineer actually makes before picking a key.
QBLK_ORACLE = """
WITH b2 AS (
  SELECT 'nation+segment' AS scheme, COUNT(*) AS s
  FROM customer GROUP BY c_nationkey, c_mktsegment
), b1 AS (
  SELECT 'nation' AS scheme, COUNT(*) AS s
  FROM customer GROUP BY c_nationkey
), b AS (
  SELECT * FROM b1 UNION ALL SELECT * FROM b2
), tot AS (
  SELECT scheme,
         CAST(SUM(s) AS DECIMAL(38,0)) AS n,
         CAST(SUM(CAST(s AS DECIMAL(38,0)) * (s - 1) / 2) AS DECIMAL(38,0)) AS cand,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(MAX(s) AS BIGINT) AS max_block
  FROM b GROUP BY scheme
)
SELECT scheme, n_blocks, max_block,
       CAST(CAST(cand AS DECIMAL(38,0)) AS DOUBLE) AS candidate_pairs,
       CAST(CAST(n * (n - 1) / 2 AS DECIMAL(38,0)) AS DOUBLE) AS all_pairs,
       ROUND(1 - CAST(cand AS DOUBLE) / CAST(n * (n - 1) / 2 AS DOUBLE), 6) AS reduction_ratio,
       ROUND(CAST(max_block AS DOUBLE) * n_blocks / CAST(n AS DOUBLE), 6) AS skew_factor
FROM tot
ORDER BY scheme
"""


@declare(
    "q_blocking_stats",
    oracle=QBLK_ORACLE,
    description="Blocking-scheme quality for ER joins: reduction ratio and block skew from pure size aggregates, no pair materialization (ER [ext])",
)
def q_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    b2 = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("s")
    ).select(F.lit("nation+segment").alias("scheme"), "s")
    b1 = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("s")).select(
        F.lit("nation").alias("scheme"), "s"
    )
    b = b1.unionByName(b2)
    sd = F.col("s").cast("decimal(38,0)")
    tot = b.groupBy("scheme").agg(
        F.sum("s").cast("decimal(38,0)").alias("n"),
        F.sum(sd * (F.col("s") - 1) / 2).cast("decimal(38,0)").alias("cand"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.max("s").cast("bigint").alias("max_block"),
    )
    allp = (F.col("n") * (F.col("n") - 1) / 2).cast("decimal(38,0)")
    return tot.select(
        "scheme",
        "n_blocks",
        "max_block",
        # pair counts can exceed BIGINT at 10^12 rows — the exact
        # decimal is cast to the same nearest DOUBLE by both engines
        F.col("cand").cast("decimal(38,0)").cast("double").alias("candidate_pairs"),
        allp.cast("double").alias("all_pairs"),
        F.round(1 - F.col("cand").cast("double") / allp.cast("double"), 6).alias(
            "reduction_ratio"
        ),
        F.round(
            F.col("max_block").cast("double") * F.col("n_blocks") / F.col("n").cast("double"),
            6,
        ).alias("skew_factor"),
    ).orderBy("scheme")

# ---------------------------------------------------------------------------
# Rank churn ([ext] analytics).  Which parts enter/leave/stay in the
# monthly revenue top-20 — the period-over-period leaderboard diff.
# Ranks come from per-month windows over the part-month aggregate
# (part-sized, never lineitem-sized); churn is a full-outer join of
# each month's top set against the PREVIOUS month's (shifted by
# add-months), restricted to months that exist in the data so the
# first month emits nothing and the last month's phantom successor is
# dropped.  Tie-break on partkey keeps ranks total; revenue decimal.
QCHURN_ORACLE = """
WITH pm AS (
  SELECT l_partkey, CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS mon,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS rev
  FROM lineitem GROUP BY 1, 2
), rk AS (
  SELECT l_partkey, mon, rev,
         ROW_NUMBER() OVER (PARTITION BY mon ORDER BY rev DESC, l_partkey) AS r
  FROM pm
), top AS (
  SELECT l_partkey, mon, r FROM rk WHERE r <= 20
), shifted AS (
  SELECT l_partkey, CAST(mon + INTERVAL 1 MONTH AS DATE) AS mon2, r FROM top
), months AS (
  SELECT DISTINCT mon FROM pm
), churn AS (
  SELECT COALESCE(b.mon, a.mon2) AS mon,
         COALESCE(b.l_partkey, a.l_partkey) AS l_partkey,
         CASE WHEN a.l_partkey IS NULL THEN 'entered'
              WHEN b.l_partkey IS NULL THEN 'dropped'
              ELSE 'stayed' END AS movement,
         a.r AS prev_rank, b.r AS new_rank
  FROM shifted a FULL JOIN top b
    ON a.l_partkey = b.l_partkey AND a.mon2 = b.mon
)
SELECT c.mon, c.l_partkey, c.movement,
       CAST(c.prev_rank AS BIGINT) AS prev_rank,
       CAST(c.new_rank AS BIGINT) AS new_rank
FROM churn c JOIN months m ON c.mon = m.mon
WHERE c.mon > (SELECT MIN(mon) FROM months)
ORDER BY c.mon, c.movement, c.l_partkey
"""


@declare(
    "q_rank_churn",
    oracle=QCHURN_ORACLE,
    description="Monthly top-20 revenue leaderboard churn (entered/dropped/stayed) via shifted full-outer join of part-sized rank tables (analytics [ext])",
)
def q_rank_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    pm = li.groupBy(
        "l_partkey",
        F.trunc(F.col("l_shipdate").cast("date"), "month").alias("mon"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("rev")
    )
    rw = Window.partitionBy("mon").orderBy(F.desc("rev"), F.asc("l_partkey"))
    top = (
        pm.withColumn("r", F.row_number().over(rw))
        .where(F.col("r") <= 20)
        .select("l_partkey", "mon", "r")
    )
    shifted = top.select(
        F.col("l_partkey").alias("a_key"),
        F.add_months("mon", 1).alias("mon2"),
        F.col("r").alias("prev_rank"),
    )
    months = pm.select("mon").distinct()
    first_mon = months.agg(F.min("mon").alias("first_mon"))
    churn = shifted.join(
        top.select(
            F.col("l_partkey").alias("b_key"),
            F.col("mon").alias("b_mon"),
            F.col("r").alias("new_rank"),
        ),
        (F.col("a_key") == F.col("b_key")) & (F.col("mon2") == F.col("b_mon")),
        "full_outer",
    ).select(
        F.coalesce(F.col("b_mon"), F.col("mon2")).alias("mon"),
        F.coalesce(F.col("b_key"), F.col("a_key")).alias("l_partkey"),
        F.when(F.col("a_key").isNull(), "entered")
        .when(F.col("b_key").isNull(), "dropped")
        .otherwise("stayed")
        .alias("movement"),
        F.col("prev_rank").cast("bigint").alias("prev_rank"),
        F.col("new_rank").cast("bigint").alias("new_rank"),
    )
    return (
        churn.join(months, "mon")
        .crossJoin(F.broadcast(first_mon))
        .where(F.col("mon") > F.col("first_mon"))
        .select("mon", "l_partkey", "movement", "prev_rank", "new_rank")
        .orderBy("mon", "movement", "l_partkey")
    )


# ---------------------------------------------------------------------------
# K-means (Lloyd), 3 unrolled iterations, fully oracle-checked ([ext]
# in-engine ML).  q_kmeans_assign covers one assignment step; THIS
# query trains: deterministic seeding (the 4 customers with the
# smallest md5(custkey), a seed any engine reproduces), then
# 3 × (assign → recompute) with the argmin done on EXACT decimal
# squared distances (points and centroids are decimals, so d² is
# exact and the tie-break on centroid id makes the argmin total);
# centroid updates divide exact decimal sums in double and round to 6
# decimals, re-entering the exact domain before the next iteration.
# Scale shape per iteration: one broadcast of k centroids + one
# map-side argmin + one k-row agg — Lloyd's canonical distributed
# form.  Output: final cluster sizes + centroids.
def _kmeans_oracle() -> str:
    head = """
WITH pts AS (
  SELECT o_custkey AS pid,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS x,
         CAST(COUNT(*) AS DECIMAL(18,0)) AS y
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
), seeds AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(pid AS VARCHAR)), pid) - 1 AS INT) AS cid,
         CAST(x AS DECIMAL(28,6)) AS cx, CAST(y AS DECIMAL(28,6)) AS cy
  FROM pts ORDER BY md5(CAST(pid AS VARCHAR)), pid LIMIT 4
), c0 AS (SELECT * FROM seeds)"""
    body = ""
    for i in range(3):
        body += f""",
a{i} AS (
  SELECT pid, x, y, cid,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY
           (CAST(x AS DECIMAL(28,6)) - cx) * (CAST(x AS DECIMAL(28,6)) - cx)
           + (CAST(y AS DECIMAL(28,6)) - cy) * (CAST(y AS DECIMAL(28,6)) - cy), cid) AS rn
  FROM pts CROSS JOIN c{i}
),
m{i} AS (SELECT pid, x, y, cid FROM a{i} WHERE rn = 1),
c{i + 1} AS (
  SELECT cid,
         CAST(ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(28,6)) AS cx,
         CAST(ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(28,6)) AS cy
  FROM m{i} GROUP BY cid
)"""
    tail = """
SELECT m.cid AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(CAST(MAX(c.cx) AS DECIMAL(28,6)) AS DOUBLE) AS centroid_x,
       CAST(CAST(MAX(c.cy) AS DECIMAL(28,6)) AS DOUBLE) AS centroid_y
FROM m2 m JOIN c3 c ON m.cid = c.cid
GROUP BY m.cid
ORDER BY cluster
"""
    return head + body + tail


QKMEANS_ORACLE = _kmeans_oracle()


@declare(
    "q_kmeans_lloyd",
    oracle=QKMEANS_ORACLE,
    description="3-iteration Lloyd k-means on (spend, order-count) with md5-deterministic seeding and exact-decimal argmin — training loop fully oracle-checked (ML [ext])",
)
def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): a NULL customer is not a
    # point (its md5 seed hash and distances are all NULL)
    o = o.filter(F.col("o_custkey").isNotNull() & F.col("o_totalprice").isNotNull())
    pts = o.groupBy(F.col("o_custkey").alias("pid")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("x"),
        F.count(F.lit(1)).cast("decimal(18,0)").alias("y"),
    )
    # Distributed top-k seed draw: orderBy().limit(k) compiles to
    # TakeOrderedAndProject (per-partition bottom-k + k-row merge) —
    # never a SinglePartition window over the point table.  The 4-row
    # cid window after the limit is trivially small.
    seed4 = (
        pts.select(
            F.md5(F.col("pid").cast("string")).alias("__h"),
            "pid",
            F.col("x").cast("decimal(28,6)").alias("cx"),
            F.col("y").cast("decimal(28,6)").alias("cy"),
        )
        .orderBy("__h", "pid")
        .limit(4)
    )
    seed_w = Window.orderBy("__h", "pid")
    seeds = seed4.select(
        (F.row_number().over(seed_w) - 1).cast("int").alias("cid"), "cx", "cy"
    )

    def assign(points: DataFrame, cents: DataFrame) -> DataFrame:
        xd = F.col("x").cast("decimal(28,6)")
        yd = F.col("y").cast("decimal(28,6)")
        d2 = (xd - F.col("cx")) * (xd - F.col("cx")) + (yd - F.col("cy")) * (
            yd - F.col("cy")
        )
        w = Window.partitionBy("pid").orderBy(d2.asc(), F.col("cid").asc())
        return (
            points.crossJoin(F.broadcast(cents))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("pid", "x", "y", "cid")
        )

    def update(members: DataFrame) -> DataFrame:
        return members.groupBy("cid").agg(
            F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 6)
            .cast("decimal(28,6)")
            .alias("cx"),
            F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6)
            .cast("decimal(28,6)")
            .alias("cy"),
        )

    cents = seeds
    members = None
    for _ in range(3):
        members = assign(pts, cents)
        cents = update(members)
    return (
        members.groupBy(F.col("cid").alias("cluster"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
        .join(
            cents.select(
                F.col("cid").alias("cluster"),
                F.col("cx").alias("centroid_x"),
                F.col("cy").alias("centroid_y"),
            ),
            "cluster",
        )
        .select(
            "cluster",
            "n_points",
            # 6-decimal-rounded centroids, engine-neutral DOUBLE boundary
            F.col("centroid_x").cast("decimal(28,6)").cast("double").alias(
                "centroid_x"
            ),
            F.col("centroid_y").cast("decimal(28,6)").cast("double").alias(
                "centroid_y"
            ),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit ([ext] privacy).  Before releasing a table keyed
# by quasi-identifiers, count the re-identifiable rows: for each k in
# a ladder, how many QI groups are smaller than k and what fraction of
# rows they hold.  One group-size aggregate feeds every k (the ladder
# is a broadcast literal), so the audit is one shuffle regardless of
# how many thresholds are screened.  QI here: (nation, segment).
QKANON_ORACLE = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS s FROM customer GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(s) AS BIGINT) AS n FROM g
), ladder AS (
  SELECT unnest([2, 5, 10, 25]) AS k
)
SELECT l.k,
       CAST(SUM(CASE WHEN g.s < l.k THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
       CAST(SUM(CASE WHEN g.s < l.k THEN g.s ELSE 0 END) AS BIGINT) AS rows_at_risk,
       ROUND(CAST(SUM(CASE WHEN g.s < l.k THEN g.s ELSE 0 END) AS DOUBLE)
             / CAST(MAX(tot.n) AS DOUBLE), 6) AS risk_frac
FROM ladder l CROSS JOIN g CROSS JOIN tot
GROUP BY l.k
ORDER BY l.k
"""


@declare(
    "q_k_anonymity",
    oracle=QKANON_ORACLE,
    description="k-anonymity release audit over (nation, segment) quasi-identifiers: violating groups + rows at risk per k ladder (privacy [ext])",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("s"))
    tot = g.agg(F.sum("s").cast("bigint").alias("n"))
    ladder = spark.range(0).sparkSession.createDataFrame(
        [(2,), (5,), (10,), (25,)], "k int"
    )
    return (
        F.broadcast(ladder)
        .crossJoin(g)
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("s") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("violating_groups"),
            F.sum(F.when(F.col("s") < F.col("k"), F.col("s")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
            F.round(
                F.sum(
                    F.when(F.col("s") < F.col("k"), F.col("s")).otherwise(0)
                ).cast("double")
                / F.max("n").cast("double"),
                6,
            ).alias("risk_frac"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Difference-in-differences ([ext] experimentation).  The 2×2
# (arm × pre/post) mean table plus the DiD interaction — the estimator
# behind every staggered-rollout readout.  Cell means come from exact
# integer cent sums (one user-level pass is unnecessary here: DiD is a
# cell-mean contrast, so the event-level grouped sums suffice); the
# four means are computed once in a 4-row aggregate, pivoted into one
# row per arm with the shared interaction column.  Determinism: cents
# are exact bigints, each mean is a single double division rounded 6,
# the DiD is a single expression over the four rounded means.
QDID_ORACLE = """
WITH cell AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'pre' ELSE 'post' END AS period,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DECIMAL(38,0)) AS cents,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), m AS (
  SELECT arm,
         ROUND(CAST(MAX(CASE WHEN period='pre'  THEN cents END) AS DOUBLE)
               / MAX(CASE WHEN period='pre'  THEN n END) / 100, 6) AS mean_pre,
         ROUND(CAST(MAX(CASE WHEN period='post' THEN cents END) AS DOUBLE)
               / MAX(CASE WHEN period='post' THEN n END) / 100, 6) AS mean_post,
         CAST(SUM(n) AS BIGINT) AS n_events
  FROM cell GROUP BY arm
), did AS (
  SELECT ROUND(
           (MAX(CASE WHEN arm='B' THEN mean_post END) - MAX(CASE WHEN arm='B' THEN mean_pre END))
         - (MAX(CASE WHEN arm='A' THEN mean_post END) - MAX(CASE WHEN arm='A' THEN mean_pre END)), 6) AS dd
  FROM m
)
SELECT m.arm, m.n_events, m.mean_pre, m.mean_post,
       ROUND(m.mean_post - m.mean_pre, 6) AS delta,
       did.dd AS did_estimate
FROM m CROSS JOIN did
ORDER BY m.arm
"""


@declare(
    "q_diff_in_diff",
    oracle=QDID_ORACLE,
    description="Difference-in-differences 2×2 readout: md5 arm split × pre/post cutoff, exact-cent cell means, shared interaction estimate (experimentation [ext])",
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(*"01234567"),
        "A",
    ).otherwise("B")
    period = F.when(
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "pre"
    ).otherwise("post")
    cell = ev.groupBy(arm.alias("arm"), period.alias("period")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    m = cell.groupBy("arm").agg(
        F.round(
            F.max(F.when(F.col("period") == "pre", F.col("cents"))).cast("double")
            / F.max(F.when(F.col("period") == "pre", F.col("n")))
            / 100,
            6,
        ).alias("mean_pre"),
        F.round(
            F.max(F.when(F.col("period") == "post", F.col("cents"))).cast("double")
            / F.max(F.when(F.col("period") == "post", F.col("n")))
            / 100,
            6,
        ).alias("mean_post"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    did = m.agg(
        F.round(
            (
                F.max(F.when(F.col("arm") == "B", F.col("mean_post")))
                - F.max(F.when(F.col("arm") == "B", F.col("mean_pre")))
            )
            - (
                F.max(F.when(F.col("arm") == "A", F.col("mean_post")))
                - F.max(F.when(F.col("arm") == "A", F.col("mean_pre")))
            ),
            6,
        ).alias("did_estimate")
    )
    return (
        m.crossJoin(F.broadcast(did))
        .select(
            "arm",
            "n_events",
            "mean_pre",
            "mean_post",
            F.round(F.col("mean_post") - F.col("mean_pre"), 6).alias("delta"),
            "did_estimate",
        )
        .orderBy("arm")
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
# Banded SimHash near-duplicate PAIRS, fully oracle-checked ([ext]
# dedup) — the SimHash sibling of q_minhash_band_pairs, closing out
# the near-dup family's verifiable modes.  64-bit md5-vote
# fingerprints (identical to q_simhash_signature) split into 4×16-bit
# blocks; docs sharing ANY block are candidates (catches every pair
# within Hamming distance 3 by pigeonhole); the verify counts
# differing bits — all integer, so the driver hash checks candidate
# generation and the Hamming filter end to end.
QSHPAIRS_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKS} AS words FROM documents
), t AS (
  SELECT doc_id, list_distinct({_zipgrams('words', 2)}) AS sh FROM tk
), b AS (
  SELECT doc_id, p.range AS pos,
         SUM(CASE WHEN (CAST(('0x' || substr(md5(u.g), CAST(p.range//4 AS BIGINT)+1, 1)) AS INTEGER)
                        >> CAST(3 - p.range%4 AS INTEGER)) & 1 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM t, unnest(t.sh) AS u(g), range(0, 64) AS p
  GROUP BY doc_id, p.range
), sig AS (
  SELECT doc_id,
         string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS bits
  FROM b GROUP BY doc_id
), banded AS (
  SELECT doc_id, bits, k.range AS band_idx,
         substr(bits, CAST(k.range*16+1 AS BIGINT), 16) AS band
  FROM sig, range(0, 4) AS k
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.bits AS ba, b.doc_id AS id_b, b.bits AS bb
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(64 - list_sum(list_transform(generate_series(1, 64),
              i -> CASE WHEN substr(ba, i, 1) = substr(bb, i, 1) THEN 1 ELSE 0 END))
            AS BIGINT) AS hamming
FROM cand
WHERE 64 - list_sum(list_transform(generate_series(1, 64),
        i -> CASE WHEN substr(ba, i, 1) = substr(bb, i, 1) THEN 1 ELSE 0 END)) <= 3
ORDER BY id_a, id_b
"""


@declare(
    "q_simhash_band_pairs",
    oracle=QSHPAIRS_ORACLE,
    description="Banded SimHash near-dup pairs in md5 verifiable mode — 16-bit-block candidates + integer Hamming verify fully oracle-checked (J5 [ext])",
)
def q_simhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.dedup import (
        _exact_text_collapse,
        _expand_member_pairs,
        _within_group_pairs,
        simhash_md5_bits,
    )

    # NULL text has no fingerprint (NULL-fuzz sweep)
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("text").isNotNull()
    )
    # exact duplicates collapse FIRST (skew fuzz r10): signatures and
    # the banded candidate/verify join run per DISTINCT normalized
    # text (identical texts have identical fingerprints, so their
    # pairs are hamming-0 by definition); member pairs fan back out in
    # output-bound time — identical output
    reps, members = _exact_text_collapse(docs, "doc_id", "text")
    # r12 (guide §2.5/§2.4): the 64-bit-vote md5 fingerprint map ran on
    # the single-row-group scan's ONE core and `sig` feeds both sides
    # of the band self-join — 19 s at sf0.1 unspread/unpinned.  Spread
    # before the map; lazy pin so the self-join reads cached blocks.
    from jibaro_spark.operators.util import ensure_parallelism

    sig = ensure_parallelism(reps, by="doc_id").select(
        F.col("doc_id").alias("__id"),
        simhash_md5_bits(F.col("text")).alias("bits"),
    ).localCheckpoint(eager=False)
    banded = sig.select(
        "__id",
        "bits",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda k: F.struct(
                    k.alias("band_idx"),
                    F.substring("bits", k * 16 + 1, 16).alias("band"),
                ),
            )
        ).alias("bb"),
    ).select("__id", "bits", "bb.band_idx", "bb.band")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("a.bits").alias("ba"),
            F.col("b.__id").alias("id_b"),
            F.col("b.bits").alias("bb"),
        )
        .distinct()
    )
    hamming = F.lit(64) - F.expr(
        "aggregate(sequence(1, 64), 0,"
        " (acc, i) -> acc + IF(substring(ba, i, 1) = substring(bb, i, 1), 1, 0))"
    )
    rep_pairs = (
        cand.withColumn("hamming", hamming.cast("bigint"))
        .where(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )
    cross = _expand_member_pairs(rep_pairs, members, directed=False)
    if members is None:  # adaptive collapse: no exact duplicates
        return cross.orderBy("id_a", "id_b")
    within = _within_group_pairs(members, directed=False).select(
        "id_a", "id_b", F.lit(0).cast("bigint").alias("hamming")
    )
    return cross.unionByName(within).orderBy("id_a", "id_b")
