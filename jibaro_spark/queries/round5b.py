"""Round-5 (second batch) declared queries: distributed BFS, Markov
event-transition model, robust (MAD) outlier detection, and
set-similarity between event cohorts ([ext] — analytics surface the
reference engine delegates entirely to Spark; rebuilt Spark-first with
DuckDB oracles).

Cross-engine determinism: integer counts everywhere possible; double
divisions only of identical integer/exact operands; medians via linear
interpolation (Spark ``percentile`` ≡ DuckDB ``quantile_cont``) over
identical value sets, rounded for output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.registry import declare, load_tables

# ---------------------------------------------------------------------------
# Distributed BFS (level-synchronous) over the bipartite
# customer–supplier trade graph: who is within N hops of the smallest
# active customer?  Spark side runs jibaro_spark.operators.graph.
# bfs_distances (frontier joins, hash-partitioned on node id); the
# oracle recomputes min-hop distance with a recursive CTE.  At 100 TB
# the per-level cost is one co-partitioned join of the frontier ring
# against the edge list — no broadcast of the graph, no path
# enumeration (the (node, depth) UNION-dedup in the oracle is the
# SQL-side equivalent bound).
_BFS_HOPS = 4

QBFS_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), ud AS (
  SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e
), reach(node, d) AS (
  SELECT 'c:' || CAST((SELECT MIN(o_custkey) FROM orders) AS VARCHAR), 0
  UNION
  SELECT ud.dst, reach.d + 1
  FROM reach JOIN ud ON ud.src = reach.node
  WHERE reach.d < {_BFS_HOPS}
)
SELECT node, CAST(MIN(d) AS BIGINT) AS dist
FROM reach GROUP BY node ORDER BY node
"""


@declare(
    "q_bfs_hops",
    oracle=QBFS_ORACLE,
    description="level-synchronous distributed BFS over the customer–supplier graph vs recursive-CTE oracle (graph [ext])",
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import bfs_distances

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    # BFS runs on NUMERIC node ids (customer k → k, supplier k →
    # −k−1): the per-level shuffles then hash/compare 8-byte longs
    # instead of strings; the 'c:'/'s:' rendering the oracle uses is
    # applied to the RESULT rows only (≈ nodes), never to the edge
    # list (≈ |distinct pairs| rows, 40× larger here)
    edges = (
        t["orders"]
        .join(t["lineitem"], t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (-F.col("l_suppkey").cast("long") - 1).alias("dst"),
        )
        .distinct()
    )
    # the BFS seed is a query parameter: one bounded 1-row aggregate
    root = t["orders"].agg(F.min("o_custkey")).first()[0]
    sources = spark.createDataFrame([(int(root),)], ["node"])
    reached = bfs_distances(edges, sources, max_hops=_BFS_HOPS)
    label = F.when(
        F.col("node") >= 0, F.concat(F.lit("c:"), F.col("node").cast("string"))
    ).otherwise(
        F.concat(F.lit("s:"), (-F.col("node") - 1).cast("string"))
    )
    return reached.select(label.alias("node"), "dist").orderBy("node")


# ---------------------------------------------------------------------------
# First-order Markov transition model over per-user event sequences:
# P(next event type | current event type).  One window pass builds the
# bigram stream (lag/lead keyed on user — co-partitioned with the
# session layout any event table already has), then a keyed count and
# a per-prev normalizing window.  Counts are exact integers; the
# probability is a single double division of two BIGINTs, so the hash
# matches bit-for-bit.
QMARKOV_ORACLE = """
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events WHERE ts IS NOT NULL
)
SELECT event_type AS prev_type, next_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS DOUBLE)
         / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS prob
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY prev_type, next_type
"""


@declare(
    "q_markov_transitions",
    oracle=QMARKOV_ORACLE,
    description="first-order Markov transition matrix over per-user event sequences (W3/A9 [ext])",
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    # explicit null-ts fence: Spark windows order NULLS FIRST,
    # DuckDB NULLS LAST — pin the contract instead of the fixture
    events = events.filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wp).cast("double")).alias(
            "prob"
        ),
    ).orderBy("prev_type", "next_type")


# ---------------------------------------------------------------------------
# Robust outlier detection: per event type, the median and the median
# absolute deviation (MAD), and how many values sit beyond the
# 3×MAD fence.  Medians via linear interpolation — Spark `percentile`
# and DuckDB `quantile_cont` compute lower + frac·(upper−lower) over
# the same value multiset, so the doubles agree exactly; they are
# rounded for output anyway.  Two grouped aggregates + two small
# joins; the per-type median table is broadcast-sized at any scale
# (one row per type).
QMAD_ORACLE = """
WITH v AS (
  -- non-finite values have no place on a median/deviation axis (float
  -- fuzz sweep: the engines disagree on NaN quantiles and comparisons)
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND isfinite(value)
), med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM v GROUP BY event_type
), dev AS (
  SELECT v.event_type, v.value, med.med, ABS(v.value - med.med) AS adev
  FROM v JOIN med USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT dev.event_type,
       ROUND(MIN(dev.med), 6) AS median_value,
       ROUND(MIN(mad.mad), 6) AS mad,
       CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
ORDER BY dev.event_type
"""


@declare(
    "q_mad_outliers",
    oracle=QMAD_ORACLE,
    description="median-absolute-deviation robust outlier fences per event type (A9 [ext])",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    inf = float("inf")
    v = events.filter(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.col("value") < inf)
        & (F.col("value") > -inf)
    ).select("event_type", "value")
    med = v.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = v.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("med"), 6).alias("median_value"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Set-similarity between event-type cohorts: Jaccard of the user sets
# of every type pair, computed via the inverted-index join (distinct
# (user, type) pairs self-joined on user) — the same
# candidates-by-shared-key shape as the n-gram similarity join, never
# a cross product of cohorts.  The per-type sizes are a
# broadcast-sized dimension (one row per type).
QTYPEJAC_ORACLE = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events WHERE value > 90
), sz AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users FROM ut GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, n_both,
       CAST(sa.n_users + sb.n_users - n_both AS BIGINT) AS n_union,
       CAST(n_both AS DOUBLE)
         / CAST(sa.n_users + sb.n_users - n_both AS DOUBLE) AS jaccard
FROM pairs
JOIN sz sa ON sa.event_type = type_a
JOIN sz sb ON sb.event_type = type_b
ORDER BY type_a, type_b
"""


@declare(
    "q_type_jaccard",
    oracle=QTYPEJAC_ORACLE,
    description="Jaccard similarity of user cohorts per event-type pair via inverted-index self-join (J5 family [ext])",
)
def q_type_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    # high-value cohorts — the unfiltered user sets are saturated
    # (every user emits every type), which would make every Jaccard
    # trivially 1.0; the fence keeps the oracle discriminative
    ut = (
        events.filter(F.col("value") > 90)
        .select("user_id", "event_type")
        .distinct()
    )
    sz = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = F.broadcast(sz.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("na")))
    sb = F.broadcast(sz.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("nb")))
    un = F.col("na") + F.col("nb") - F.col("n_both")
    return (
        pairs.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            un.cast("long").alias("n_union"),
            (F.col("n_both").cast("double") / un.cast("double")).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: part pairs bought together in ≥2
# orders.  Classic two-phase frequent-pair mining with the a-priori
# prune built in: items below the support floor are filtered BEFORE
# pair generation (a pair can only reach support s if both items
# appear in ≥ s baskets), so the quadratic per-basket pair explode
# runs on the frequent-item subset only.  Candidates come from the
# basket-keyed self-join (inverted index on the order key) — never a
# part × part cross product.
_BASKET_MIN_SUPPORT = 2

QBASKET_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), freq AS (
  SELECT l_partkey FROM items GROUP BY l_partkey
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
), fi AS (
  SELECT items.l_orderkey, items.l_partkey FROM items JOIN freq USING (l_partkey)
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM fi a JOIN fi b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
)
SELECT part_a, part_b, support
FROM pairs ORDER BY support DESC, part_a, part_b
"""


@declare(
    "q_basket_pairs",
    oracle=QBASKET_ORACLE,
    description="frequent co-purchased part pairs with a-priori item pruning (J5/A9 family [ext])",
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= _BASKET_MIN_SUPPORT)
        .select("l_partkey")
    )
    fi = items.join(freq, "l_partkey").localCheckpoint(eager=True)
    a = fi.alias("a")
    b = fi.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
        .orderBy(F.desc("support"), "part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# One-scan table profiler over a typed projection of orders: row /
# null / exact-distinct counts and min/max rendered as strings.  Type
# renderings are pinned cross-engine by profiling a projection that
# casts doubles to DECIMAL(18,2) and timestamps to DATE-strings
# (double→string and timestamp→string formats differ between
# engines; decimal/date/integer/varchar renderings agree).
QPROFILE_ORACLE = """
WITH src AS (
  SELECT o_orderkey,
         o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS total_dec,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day
  FROM orders
)
SELECT * FROM (
  SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
  FROM src
  UNION ALL
  SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
         MIN(o_orderstatus), MAX(o_orderstatus)
  FROM src
  UNION ALL
  SELECT 'total_dec', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(total_dec) AS BIGINT),
         CAST(COUNT(DISTINCT total_dec) AS BIGINT),
         CAST(MIN(total_dec) AS VARCHAR), CAST(MAX(total_dec) AS VARCHAR)
  FROM src
  UNION ALL
  SELECT 'order_day', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(order_day) AS BIGINT),
         CAST(COUNT(DISTINCT order_day) AS BIGINT),
         MIN(order_day), MAX(order_day)
  FROM src
) ORDER BY col_name
"""


@declare(
    "q_profile_orders",
    oracle=QPROFILE_ORACLE,
    description="one-scan column profiler (row/null/exact-distinct counts, min/max) over a typed orders projection (DQ family [ext])",
)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.dq import profile_table

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    src = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("total_dec"),
        F.col("o_orderdate").cast("date").cast("string").alias("order_day"),
    )
    # hash-spread before the profiler (r12, the moment-pass treatment):
    # the multi-distinct agg compiles to an Expand (rows × #cols) whose
    # map-side partials otherwise run on the single-row-group scan's
    # ONE core; counts/min/max are placement-independent
    from jibaro_spark.operators.util import ensure_parallelism

    return profile_table(ensure_parallelism(src, by="o_orderkey"))


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
# Exact ROC-AUC of a per-document signal against a binary label via
# the Mann-Whitney rank statistic, computed WITHOUT ranking individual
# rows: scores are first collapsed to (score, n, n_pos) group counts
# (one keyed aggregate — the 100 TB-sized pass), and midranks come
# from a running sum over the DISTINCT-score table, which is orders of
# magnitude smaller than the corpus (and at worst bin-quantized —
# binned AUC — when a signal is continuous).  All arithmetic stays in
# BIGINTs (midrank sums doubled to avoid halves) until the single
# final double division, so the value is bit-exact across engines.
QAUC_ORACLE = """
WITH s AS (
  SELECT n_chars AS score, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
  WHERE n_chars IS NOT NULL
), g AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS npos
  FROM s GROUP BY score
), c AS (
  SELECT score, n, npos,
         CAST(COALESCE(SUM(n) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM g
), t AS (
  SELECT SUM(CAST(npos AS HUGEINT) * (2 * cum_before + n + 1)) AS s2,
         CAST(SUM(npos) AS BIGINT) AS n1,
         CAST(SUM(n) - SUM(npos) AS BIGINT) AS n0
  FROM c
)
SELECT n1 AS n_pos, n0 AS n_neg,
       CAST(s2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
         / CAST(CAST(2 AS HUGEINT) * n1 * n0 AS DOUBLE) AS auc
FROM t
"""


@declare(
    "q_auc_nchars_en",
    oracle=QAUC_ORACLE,
    description="exact ROC-AUC (Mann-Whitney midranks over grouped scores) of doc length predicting lang=en — ML-eval primitive (A9 [ext])",
)
def q_auc_nchars_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # an unscored doc (NULL n_chars) has no rank — and the NULL score
    # group sorts opposite ways in Spark vs SQL midrank windows
    s = docs.filter(F.col("n_chars").isNotNull()).select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("npos"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = g.withColumn(
        "cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
    )
    # s2 is O(rows^2)-magnitude (midrank sums) — DECIMAL(38,0), not
    # BIGINT, so a web-scale corpus can't silently wrap with ANSI off
    # while the oracle widens (ADVICE r5); HUGEINT on the DuckDB side.
    t = c.agg(
        F.sum(
            F.col("npos").cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("n") + 1)
        )
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum("npos").cast("long").alias("n1"),
        (F.sum("n") - F.sum("npos")).cast("long").alias("n0"),
    )
    return t.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        (
            (
                F.col("s2")
                - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
            ).cast("double")
            / (
                F.lit(2).cast("decimal(38,0)")
                * F.col("n1")
                * F.col("n0")
            ).cast("double")
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Burst dedup: keep only the FIRST event of each activity burst per
# (user, type), bursts split where the quiet gap reaches 24 h — the
# batch form of streaming dedup-within-watermark (T6), and the
# event-stream analogue of the throttled-notification pattern.  Gap
# arithmetic stays in microsecond BIGINTs (`unix_micros` ≡ DuckDB
# `epoch_us`), no doubles.  One key-partitioned window — the same
# (user, type) shuffle any per-entity pass already pays.
_BURST_GAP_US = 86_400_000_000  # 24 h

QBURST_ORACLE = f"""
WITH seq AS (
  SELECT event_id, user_id, event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS gap_us
  FROM events WHERE ts IS NOT NULL
)
SELECT event_id, user_id, event_type
FROM seq
WHERE gap_us IS NULL OR gap_us >= {_BURST_GAP_US}
ORDER BY event_id
"""


@declare(
    "q_burst_dedup",
    oracle=QBURST_ORACLE,
    description="keep first event per (user,type) activity burst — 24h quiet-gap split; batch analogue of streaming dedup-within-watermark (T6/A3 [ext])",
)
def q_burst_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    # null-ts fence — same cross-engine window-ordering contract as
    # q_markov_transitions
    events = events.filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = events.select(
        "event_id",
        "user_id",
        "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
    )
    return (
        seq.filter(
            F.col("gap_us").isNull() | (F.col("gap_us") >= _BURST_GAP_US)
        )
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Reliability/calibration curve: decile the signal (deterministic
# NTILE with id tiebreak — the equi-depth-histogram range shuffle),
# then per-decile size, positive count/rate and mean signal.  The
# companion of q_auc_nchars_en: AUC says HOW WELL the signal ranks,
# the calibration table says WHERE it is over/under-confident.
QCALIB_ORACLE = """
WITH s AS (
  SELECT doc_id, n_chars AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
), d AS (
  SELECT score, y, NTILE(10) OVER (ORDER BY score, doc_id) AS decile FROM s
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
       CAST(SUM(score) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_score
FROM d GROUP BY decile ORDER BY decile
"""


@declare(
    "q_calibration_deciles",
    oracle=QCALIB_ORACLE,
    description="decile calibration/reliability table for the doc-length signal vs lang=en (ML-eval family [ext])",
)
def q_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # unscored/unidentified docs have no decile (and NULLs sort opposite
    # ways in the two engines' NTILE orderings)
    s = docs.filter(
        F.col("n_chars").isNotNull() & F.col("doc_id").isNotNull()
    ).select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    from jibaro_spark.operators.relational import ntile_exact

    # cost-based NTILE (r12): one count probe routes corpora under the
    # single-task sort floor through the native window; bigger inputs
    # keep the distributed range-partition form (never a
    # single-partition window over a corpus that doesn't fit one task)
    d = ntile_exact(s, 10, ["score", "doc_id"], out_col="decile")
    return (
        d.groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "pos_rate"
            ),
            (
                F.sum("score").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_score"),
        )
        .orderBy("decile")
    )


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
# Period-over-period: monthly order revenue with the previous month's
# revenue and percent change — the lag window runs over the MONTH
# table (decimal-exact monthly sums; the corpus pass is one keyed
# aggregate).  pct_change divides two exact-decimal-derived doubles,
# so it is engine-identical.
QPOP_ORACLE = """
WITH m AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY month
)
SELECT month, revenue,
       LAG(revenue) OVER (ORDER BY month) AS prev_revenue,
       CASE WHEN LAG(revenue) OVER (ORDER BY month) IS NULL THEN NULL
            ELSE ROUND((revenue - LAG(revenue) OVER (ORDER BY month))
                       / LAG(revenue) OVER (ORDER BY month), 8)
       END AS pct_change
FROM m ORDER BY month
"""


@declare(
    "q_period_over_period",
    oracle=QPOP_ORACLE,
    description="monthly revenue with previous-period and percent change — the period-over-period BI window (W3 [ext])",
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): a NULL date has no month —
    # its group would sort to opposite ends of the two engines' lag axes
    orders = orders.filter(F.col("o_orderdate").isNotNull())
    m = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise(F.round((F.col("revenue") - prev) / prev, 8))
        .alias("pct_change"),
    ).orderBy("month")


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
# Association-rule strength on the frequent-pair table: lift =
# P(a,b) / (P(a)·P(b)) with exact integer counts scaled by the basket
# count — rendered as lift_x1000 (integer-floored) plus the exact
# numerator/denominator counts, so the hash never touches an
# order-dependent float sum.  Same a-priori pruned join as
# q_basket_pairs; item supports are a broadcast dimension.
QLIFT_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
), nb AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM items
), freq AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS item_n FROM items
  GROUP BY l_partkey HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
), fi AS (
  SELECT items.l_orderkey, items.l_partkey FROM items
  JOIN freq USING (l_partkey)
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM fi a JOIN fi b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 3
)
SELECT part_a, part_b, support,
       fa.item_n AS n_a, fb.item_n AS n_b,
       CAST((CAST(support AS HUGEINT) * nb.n_baskets * 1000)
            // (CAST(fa.item_n AS HUGEINT) * fb.item_n)
            AS BIGINT) AS lift_x1000
FROM pairs
JOIN freq fa ON fa.l_partkey = part_a
JOIN freq fb ON fb.l_partkey = part_b
CROSS JOIN nb
ORDER BY lift_x1000 DESC, part_a, part_b
"""


@declare(
    "q_basket_lift",
    oracle=QLIFT_ORACLE,
    description="association-rule lift for co-purchase pairs (support>=3) in exact integer arithmetic (A9/J5 family [ext])",
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): a NULL basket/item is not
    # a market-basket member — and Spark's distinct().count() would
    # count the NULL basket where SQL COUNT(DISTINCT) skips it
    lineitem = lineitem.filter(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    )
    items = lineitem.select("l_orderkey", "l_partkey").distinct().localCheckpoint(
        eager=True
    )
    n_baskets = items.select("l_orderkey").distinct().count()
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("item_n"))
        .filter(F.col("item_n") >= _BASKET_MIN_SUPPORT)
    )
    fi = items.join(freq.select("l_partkey"), "l_partkey")
    a = fi.alias("a")
    b = fi.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 3)
    )
    fa = F.broadcast(
        freq.select(F.col("l_partkey").alias("part_a"), F.col("item_n").alias("n_a"))
    )
    fb = F.broadcast(
        freq.select(F.col("l_partkey").alias("part_b"), F.col("item_n").alias("n_b"))
    )
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .select(
            "part_a",
            "part_b",
            "support",
            "n_a",
            "n_b",
            # DECIMAL(38,0) products: BIGINT would wrap silently at
            # n_baskets ~1e8 with ANSI off, and wrap differently from
            # the oracle (ADVICE r5) — decimal keeps both engines exact
            F.expr(
                f"CAST(floor((CAST(support AS DECIMAL(38,0)) * {n_baskets}"
                f" * 1000) / (CAST(n_a AS DECIMAL(38,0)) * n_b)) AS BIGINT)"
            ).alias("lift_x1000"),
        )
        .orderBy(F.desc("lift_x1000"), "part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# Degree distribution of the customer–supplier trade graph: how many
# nodes have each degree — the first thing to read off any graph
# before joining on it (skew planning: a power-law tail says salt the
# hot keys).  Two keyed aggregates; the output is #distinct-degrees
# rows.
QDEGREE_ORACLE = """
WITH e AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), ud AS (
  SELECT src AS node, dst AS nbr FROM e
  UNION ALL SELECT dst AS node, src AS nbr FROM e
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM ud GROUP BY node
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUBSTRING(MIN(node), 1, 1) AS VARCHAR) AS side_of_min_node
FROM deg GROUP BY degree ORDER BY degree
"""


@declare(
    "q_degree_distribution",
    oracle=QDEGREE_ORACLE,
    description="degree distribution of the trade graph — the skew-planning read before any graph join (graph [ext])",
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    e = (
        t["orders"]
        .join(t["lineitem"], t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    ud = e.select(F.col("src").alias("node")).unionAll(
        e.select(F.col("dst").alias("node"))
    )
    deg = ud.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.substring(F.min("node"), 1, 1).alias("side_of_min_node"),
        )
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Triangles in the CO-PURCHASE graph: basket mining composed with the
# graph operator — parts are linked when bought together in ≥2
# orders, and the per-part triangle count measures how clique-like a
# part's neighborhood is (community signal).  The bipartite trade
# graph has no triangles by construction; the pair projection does.
# Spark side: the a-priori pruned pair join feeds
# graph.triangle_count (degree-ordered orientation, O(m^1.5) wedge
# bound); the oracle enumerates oriented triangles with a 3-way
# self-join and unpivots corners.
QCOTRI_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), freq AS (
  SELECT l_partkey FROM items GROUP BY l_partkey
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
), fi AS (
  SELECT items.l_orderkey, items.l_partkey FROM items JOIN freq USING (l_partkey)
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM fi a JOIN fi b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
), nodes AS (
  SELECT u AS node FROM e UNION SELECT v FROM e
)
SELECT nodes.node,
       CAST(COALESCE(COUNT(corners.node), 0) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN corners ON corners.node = nodes.node
GROUP BY nodes.node
ORDER BY nodes.node
"""


@declare(
    "q_copurchase_triangles",
    oracle=QCOTRI_ORACLE,
    description="per-part triangle counts in the co-purchase pair graph — basket mining composed with the O(m^1.5) triangle operator (graph/J5 [ext])",
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import triangle_count

    lineitem = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= _BASKET_MIN_SUPPORT)
        .select("l_partkey")
    )
    fi = items.join(freq, "l_partkey").localCheckpoint(eager=True)
    a = fi.alias("a")
    b = fi.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("__s"))
        .filter(F.col("__s") >= _BASKET_MIN_SUPPORT)
        .select("src", "dst")
    )
    return (
        triangle_count(edges)
        .select("node", F.col("n_triangles").cast("long").alias("n_triangles"))
        .orderBy("node")
    )
