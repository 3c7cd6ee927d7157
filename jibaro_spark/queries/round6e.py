"""Round-6e declared queries: approximate query processing via
Horvitz-Thompson hash sampling, weighted sampling without replacement
(Efraimidis-Spirakis), gaps-and-islands streaks, windowed
count-distinct (a native-Spark-gap workaround), exponential
time-decay scoring, and Lorenz concentration deciles.

Determinism contract as round6b-6d: md5-derived uniforms (identical
hex in any engine), decimal accumulation for every sum, ln rounded to
10 decimals before use, explicit tie-breaks on every ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.registry import declare, load_tables

# ---------------------------------------------------------------------------
# Horvitz-Thompson estimation from a deterministic hash sample ([ext]
# approximate query processing): a 1/16 sample selected by the first
# md5 nibble of the row key — at 100 TB the sample is a map-only
# filter (no shuffle, no stored sample table, any engine reproduces
# the same sample), and each group estimate is sum(x)/p with p=1/16.
# Exact totals ride along so every row exposes its own relative
# error; the sums are decimal-exact so the only float is the final
# error ratio.
QHT_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS x,
         CASE WHEN substring(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                                 CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'
              THEN 1 ELSE 0 END AS picked
  FROM lineitem
)
SELECT l_returnflag,
       CAST(SUM(picked) AS BIGINT) AS n_sampled,
       CAST(CAST(SUM(CASE WHEN picked = 1 THEN x END) * 16 AS DECIMAL(28,2))
            AS DOUBLE) AS est_revenue,
       CAST(CAST(SUM(x) AS DECIMAL(28,2)) AS DOUBLE) AS exact_revenue,
       ROUND(CAST(SUM(CASE WHEN picked = 1 THEN x END) * 16 - SUM(x) AS DOUBLE)
             / CAST(SUM(x) AS DOUBLE), 6) AS rel_err
FROM s
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@declare(
    "q_sampled_sum_ht",
    oracle=QHT_ORACLE,
    description="Horvitz-Thompson revenue estimate from a deterministic 1/16 md5 hash sample, exact totals + relative error alongside (AQP [ext])",
)
def q_sampled_sum_ht(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    s = li.select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("x"),
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("l_orderkey").cast("string"),
                        F.lit("|"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                1,
            )
            == "0",
            1,
        )
        .otherwise(0)
        .alias("picked"),
    )
    est = F.sum(F.when(F.col("picked") == 1, F.col("x"))) * 16
    exact = F.sum("x")
    return (
        s.groupBy("l_returnflag")
        .agg(
            F.sum("picked").cast("long").alias("n_sampled"),
            est.cast("decimal(28,2)").cast("double").alias("est_revenue"),
            exact.cast("decimal(28,2)").cast("double").alias("exact_revenue"),
            F.round(
                (est - exact).cast("double") / exact.cast("double"), 6
            ).alias("rel_err"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
# exponential keys ([ext]): item i survives with probability
# proportional to weight w_i by ranking on ln(u_i)/w_i (equivalent to
# u^(1/w)) and keeping the top-k per group.  One map to compute keys,
# one per-group top-k window — no rejection loop, no driver RNG; the
# md5-derived u makes the "random" draw engine-reproducible, which is
# what lets the oracle replay it exactly (ln rounded to 10 before the
# division, the repo's standard cross-engine ln contract).
_WS_K = 5

QWS_ORACLE = f"""
WITH keyed AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(o_totalprice AS DOUBLE) AS w,
         ROUND(LN((list_sum(list_transform(range(1, 14),
             i -> CAST(strpos('0123456789abcdef',
                        substring(md5(CAST(o_orderkey AS VARCHAR)), i, 1)) - 1
                        AS DOUBLE) * (16.0 ^ (13 - i)))) + 0.5) / (16.0 ^ 13)), 10)
           AS lnu
  FROM orders
  WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
), ranked AS (
  SELECT o_orderpriority, o_orderkey, w,
         lnu / w AS es_key,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY lnu / w DESC, o_orderkey) AS rn
  FROM keyed
)
SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey,
       ROUND(es_key * 1000000, 6) AS es_key_ppm
FROM ranked WHERE rn <= {_WS_K}
ORDER BY o_orderpriority, rn
"""


@declare(
    "q_weighted_sample",
    oracle=QWS_ORACLE,
    description=f"top-{_WS_K} weighted sample without replacement per priority — Efraimidis-Spirakis ln(u)/w keys from md5 uniforms (sampling [ext])",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): a NULL key draws a NULL
    # uniform and a NULL weight a NULL ES key — both sort to opposite
    # ends of the two engines' rank orders
    orders = orders.filter(
        F.col("o_orderkey").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    h = F.md5(F.col("o_orderkey").cast("string"))
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + F.lit(0.5)) / F.lit(
        float(16**13)
    )
    keyed = orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("w"),
        F.round(F.log(u), 10).alias("lnu"),
    )
    # Two-phase top-k: with only ~5 group values, a single per-group
    # rank window would sort the whole orders table in 5 tasks.  Prune
    # per (group, 64-way salt) first — survivors are ≤ 64·k per group
    # — then rank the survivor set per group.  Identical result (the
    # global top-k is inside every salt's local top-k union).
    salt = F.pmod(F.xxhash64("o_orderkey"), F.lit(64)).alias("__salt")
    es_desc = (F.col("lnu") / F.col("w")).desc()
    w_local = Window.partitionBy("o_orderpriority", "__salt").orderBy(
        es_desc, F.col("o_orderkey")
    )
    survivors = (
        keyed.withColumn("__salt", salt)
        .withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= _WS_K)
    )
    w = Window.partitionBy("o_orderpriority").orderBy(es_desc, F.col("o_orderkey"))
    return (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _WS_K)
        .select(
            "o_orderpriority",
            F.col("rn").cast("long"),
            "o_orderkey",
            F.round(F.col("lnu") / F.col("w") * 1000000, 6).alias("es_key_ppm"),
        )
        .orderBy("o_orderpriority", "rn")
    )


# ---------------------------------------------------------------------------
# Longest consecutive-day activity streak per user — the classic
# gaps-and-islands pattern ([ext]): distinct active days, island id =
# day − row_number() (constant within a consecutive run), one count
# per island, argmax per user with earliest-start tie-break.  Two
# key-partitioned windows over per-user-day rows; at 100 TB the
# distinct (user, day) reduction happens first, so the window input
# is bounded by users × days, not event volume.
QSTREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn
  FROM events
), islands AS (
  SELECT user_id, dn,
         dn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dn) AS isl
  FROM days
), runs AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak,
         CAST(MIN(dn) AS BIGINT) AS streak_start
  FROM islands GROUP BY user_id, isl
), best AS (
  SELECT user_id, streak, streak_start,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY streak DESC, streak_start) AS rn
  FROM runs
)
SELECT user_id, streak, streak_start FROM best WHERE rn = 1
ORDER BY user_id
"""


@declare(
    "q_longest_streak",
    oracle=QSTREAK_ORACLE,
    description="longest consecutive-day activity streak per user — gaps-and-islands via day − row_number island ids (sequence [ext])",
)
def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    days = events.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("dn"),
    ).distinct()
    wi = Window.partitionBy("user_id").orderBy("dn")
    islands = days.withColumn("isl", F.col("dn") - F.row_number().over(wi))
    runs = islands.groupBy("user_id", "isl").agg(
        F.count(F.lit(1)).cast("long").alias("streak"),
        F.min("dn").cast("long").alias("streak_start"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("streak").desc(), F.col("streak_start")
    )
    return (
        runs.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak", "streak_start")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Distinct count over a trailing time window — a native-Spark GAP
# ([ext]): Spark windows reject COUNT(DISTINCT), so the engine
# composes size(array_distinct(collect_list)) over a RANGE frame —
# correct because the trailing 7-day frame bounds the collected list
# (≤ days × types), so state per row is small by construction.  The
# oracle uses DuckDB's native windowed COUNT(DISTINCT), making this a
# cross-engine check of the workaround's semantics.  Input is first
# reduced to distinct (user, day, type) triples, so the window input
# is user-day-bounded, not event-volume-bounded.
QWCD_ORACLE = """
WITH triples AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn,
         event_type
  FROM events
), counted AS (
  SELECT user_id, dn,
         COUNT(DISTINCT event_type) OVER (
           PARTITION BY user_id ORDER BY dn
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_types_7d
  FROM triples
)
SELECT DISTINCT user_id, CAST(dn AS BIGINT) AS dn,
       CAST(n_types_7d AS BIGINT) AS n_types_7d
FROM counted
ORDER BY user_id, dn
"""


@declare(
    "q_window_count_distinct",
    oracle=QWCD_ORACLE,
    description="distinct event types per user over a trailing 7-day RANGE frame — size∘array_distinct∘collect_list workaround for Spark's missing windowed COUNT(DISTINCT) (window [ext])",
)
def q_window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    triples = events.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("dn"),
        "event_type",
    ).distinct()
    w = (
        Window.partitionBy("user_id")
        .orderBy("dn")
        .rangeBetween(-6, Window.currentRow)
    )
    return (
        triples.withColumn(
            "n_types_7d",
            F.size(F.array_distinct(F.collect_list("event_type").over(w))).cast(
                "long"
            ),
        )
        .select("user_id", F.col("dn").cast("long"), "n_types_7d")
        .distinct()
        .orderBy("user_id", "dn")
    )


# ---------------------------------------------------------------------------
# Exponential time-decay engagement score per user ([ext] — the
# standard recency-weighted activity metric: one map to stamp each
# event with exp(−λ·age_days), one key-partitioned sum).  Each decay
# term is rounded to 10 decimals and multiplied by the decimal-
# rounded value, so the per-user sum is an order-independent decimal
# total both engines reproduce bit-for-bit; λ = 0.05/day.
QDECAY_ORACLE = """
WITH horizon AS (
  SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events
), terms AS (
  SELECT e.user_id,
         CAST(CAST(ROUND(e.value, 6) AS DECIMAL(19,6))
              * CAST(ROUND(EXP(-0.05 * date_diff('day', CAST(e.ts AS DATE),
                                                 h.dmax)), 10)
                     AS DECIMAL(11,10))
              AS DECIMAL(28,16)) AS t
  FROM events e, horizon h
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(CAST(SUM(t) AS DECIMAL(30,16)), 6) AS DOUBLE) AS decay_score
FROM terms
GROUP BY user_id
ORDER BY user_id
"""


@declare(
    "q_decay_score",
    oracle=QDECAY_ORACLE,
    description="exponential time-decay engagement score per user (λ=0.05/day) — recency weighting as one map + keyed sum, decimal-exact (scoring [ext])",
)
def q_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    horizon = events.agg(F.max(F.to_date("ts")).alias("dmax"))
    terms = events.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        (
            F.round("value", 6).cast("decimal(19,6)")
            * F.round(
                F.exp(-0.05 * F.datediff(F.col("dmax"), F.to_date("ts"))), 10
            ).cast("decimal(11,10)")
        )
        .cast("decimal(28,16)")
        .alias("t"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            # exact decimal accumulation; round in the decimal domain
            # (both engines hold the identical exact sum) THEN cast to
            # the engine-neutral DOUBLE boundary
            F.round(F.sum("t").cast("decimal(30,16)"), 6)
            .cast("double")
            .alias("decay_score"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Lorenz curve deciles of customer spend ([ext] concentration
# analysis, the curve behind q_source_gini's scalar): customers
# ranked into spend deciles (ntile with a pinned custkey tie-break),
# each decile's revenue share and the cumulative share.  The decile
# assignment is rank-arithmetic (no SinglePartition NTILE — same
# ceil-division contract as q_quantile_normalize); shares are exact
# decimal ratios cast to double at the end.
QLORENZ_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY o_custkey
), ranked AS (
  SELECT s,
         ROW_NUMBER() OVER (ORDER BY s, o_custkey) AS rn,
         COUNT(*) OVER () AS n
  FROM spend
), deciled AS (
  SELECT s, ((rn * 10 - 1) // n) + 1 AS decile FROM ranked
), agg AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(s) AS DECIMAL(28,2)) AS revenue
  FROM deciled GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile, n_customers,
       CAST(revenue AS DOUBLE) AS revenue,
       ROUND(CAST(SUM(revenue) OVER (ORDER BY decile) AS DOUBLE)
             / CAST(SUM(revenue) OVER () AS DOUBLE), 6) AS cum_share
FROM agg
ORDER BY decile
"""


@declare(
    "q_lorenz_deciles",
    oracle=QLORENZ_ORACLE,
    description="Lorenz curve: spend-decile revenue shares with cumulative concentration — rank-arithmetic deciling, no SinglePartition NTILE (stats [ext])",
)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import global_row_number

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): the rank axis (spend,
    # custkey) must be defined — NULLs sort to opposite ends
    orders = orders.filter(
        F.col("o_custkey").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("s")
    )
    # Rank the CUSTOMER-sized spend table — cost-based (r12): a count
    # probe routes under-floor inputs through a plain row_number
    # window; a corpus-sized spend table keeps the distributed range-
    # shuffle form (never a single-task window over data that doesn't
    # fit one task).  The only always-single-partition stage below is
    # the 10-row decile rollup window.
    # r13 (ADVICE r12 #3): pin the spend aggregation so the probe's
    # count job materializes it ONCE (probe + final job previously
    # re-ran the agg each), and take N from the rank call itself —
    # both routes already know it — instead of a third pass
    spend = spend.localCheckpoint(eager=False)
    ranked, n_total = global_row_number(
        spend, ["s", "o_custkey"], out_col="rn", with_count=True
    )
    deciled = ranked.withColumn(
        "decile",
        ((F.col("rn") * 10 - 1) / F.lit(n_total)).cast("long") + 1,
    )
    agg = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("s").cast("decimal(28,2)").alias("revenue"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.partitionBy()
    return agg.select(
        F.col("decile").cast("long"),
        "n_customers",
        F.col("revenue").cast("double").alias("revenue"),
        F.round(
            F.sum("revenue").over(wcum).cast("double")
            / F.sum("revenue").over(wtot).cast("double"),
            6,
        ).alias("cum_share"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Kruskal-Wallis one-way rank ANOVA across ALL languages ([ext] — the
# k-group generalization of q_mannwhitney_u, sharing its grouped-
# midrank machinery: rows collapse to per-(lang, value) counts, the
# midrank pass runs over DISTINCT values, and the doubled-integer
# lanes (2·cum_before + t + 1) stay in DECIMAL(38,0)/HUGEINT).  The
# tie-corrected statistic H/C is one double expression over exact
# integer sufficient statistics; each output row carries its group's
# mean rank plus the shared global statistic.
QKW_ORACLE = """
WITH g AS (
  SELECT lang, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS t
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY lang, n_chars
), vt AS (
  SELECT v, CAST(SUM(t) AS BIGINT) AS tv FROM g GROUP BY v
), c AS (
  SELECT v, tv,
         CAST(COALESCE(SUM(tv) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM vt
), per_group AS (
  SELECT g.lang,
         CAST(SUM(g.t) AS BIGINT) AS n_g,
         SUM(CAST(g.t AS HUGEINT) * (2 * c.cum_before + c.tv + 1)) AS r2_g
  FROM g JOIN c ON c.v = g.v
  GROUP BY g.lang
), tot AS (
  SELECT CAST(SUM(tv) AS BIGINT) AS nn,
         SUM(CAST(tv AS HUGEINT) * tv * tv - tv) AS tie
  FROM vt
), h AS (
  SELECT (12.0 / (CAST(t.nn AS DOUBLE) * (t.nn + 1)))
           * SUM((CAST(p.r2_g AS DOUBLE) / 2) * (CAST(p.r2_g AS DOUBLE) / 2)
                 / p.n_g)
           - 3.0 * (t.nn + 1) AS h_raw,
         1.0 - CAST(t.tie AS DOUBLE)
             / (CAST(t.nn AS DOUBLE) * t.nn * t.nn - t.nn) AS c_tie
  FROM per_group p, tot t
  GROUP BY t.nn, t.tie
)
SELECT p.lang, p.n_g,
       ROUND(CAST(p.r2_g AS DOUBLE) / 2 / p.n_g, 6) AS mean_rank,
       ROUND(h.h_raw / h.c_tie, 6) AS h_stat
FROM per_group p, h
ORDER BY p.lang
"""


@declare(
    "q_kruskal_wallis",
    oracle=QKW_ORACLE,
    description="Kruskal-Wallis tie-corrected H across all languages on doc length — grouped-midrank integer lanes, one double expression (stats [ext])",
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # rank tests are over (group, value) observations: rows missing
    # either are not observations (NULL values also sort opposite ways
    # in the two engines' midrank windows)
    docs = docs.filter(F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
    g = docs.groupBy("lang", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    vt = g.groupBy("v").agg(F.sum("t").cast("long").alias("tv"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c = vt.withColumn(
        "cum_before", F.coalesce(F.sum("tv").over(w), F.lit(0)).cast("long")
    )
    per_group = (
        g.join(c, "v")
        .groupBy("lang")
        .agg(
            F.sum("t").cast("long").alias("n_g"),
            F.sum(
                F.col("t").cast("decimal(38,0)")
                * (2 * F.col("cum_before") + F.col("tv") + 1)
            )
            .cast("decimal(38,0)")
            .alias("r2_g"),
        )
    )
    tot = vt.agg(
        F.sum("tv").cast("long").alias("nn"),
        F.sum(
            F.col("tv").cast("decimal(38,0)") * F.col("tv") * F.col("tv")
            - F.col("tv")
        )
        .cast("decimal(38,0)")
        .alias("tie"),
    )
    withtot = per_group.crossJoin(F.broadcast(tot))
    h = withtot.groupBy("nn", "tie").agg(
        (
            (12.0 / (F.col("nn").cast("double") * (F.col("nn") + 1)))
            * F.sum(
                (F.col("r2_g").cast("double") / 2)
                * (F.col("r2_g").cast("double") / 2)
                / F.col("n_g")
            )
            - 3.0 * (F.col("nn") + 1)
        ).alias("h_raw"),
        F.first(
            1.0
            - F.col("tie").cast("double")
            / (F.col("nn").cast("double") * F.col("nn") * F.col("nn") - F.col("nn"))
        ).alias("c_tie"),
    )
    return (
        per_group.crossJoin(F.broadcast(h))
        .select(
            "lang",
            "n_g",
            F.round(F.col("r2_g").cast("double") / 2 / F.col("n_g"), 6).alias(
                "mean_rank"
            ),
            F.round(F.col("h_raw") / F.col("c_tie"), 6).alias("h_stat"),
        )
        .orderBy("lang")
    )


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
