"""Event-stream declared queries: sessionization, funnels, as-of joins,
event windows, cohorts, streaks, Markov transitions, multi-touch
attribution, and survival analysis over time-to-first-purchase.

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.registry import _d, declare, dsum, load_tables


SESSION_GAP_SECONDS = 6 * 3600


# FLOOR epoch-seconds, in exact integer arithmetic (timedegen class,
# r12): Spark's `cast(timestamp as long)` FLOORS (1969-12-31
# 23:59:59.999999 -> -1) while DuckDB's DATE_DIFF('second', ...)
# truncates epoch toward zero (same instant -> 0), so the two sides
# disagreed on sub-second gaps straddling a second boundary at
# negative epochs.  The contract is declared as floor on BOTH sides;
# EPOCH_US keeps year-9999 micros exact where double EPOCH() cannot
# (2.5e17 > 2^53), and the ((x % d) + d) % d dance turns DuckDB's
# truncating integer division into floor division.
_FLOOR_SEC = (
    "((EPOCH_US({t}) - ((EPOCH_US({t}) % 1000000) + 1000000) % 1000000) "
    "// 1000000)"
)

QSESS_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                OR {_FLOOR_SEC.format(t='ts')}
                   - {_FLOOR_SEC.format(t='prev_ts')}
                   > {SESSION_GAP_SECONDS}
              THEN 1 ELSE 0 END AS is_new
  FROM ordered
), numbered AS (
  SELECT user_id, ts, event_id,
         -- CAST: DuckDB window SUM yields HUGEINT (float64 via pandas);
         -- Spark yields BIGINT — align for the driver's value hash
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST({_FLOOR_SEC.format(t='MAX(ts)')}
            - {_FLOOR_SEC.format(t='MIN(ts)')} AS BIGINT) AS duration_s
FROM numbered
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


@declare("q_sessionize_events", oracle=QSESS_ORACLE, description="gap-based sessionization via lag + cumulative sum windows (W3 [ext])")
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeline fence (see q_markov_transitions): no timestamp or user →
    # no position on a per-user timeline, on either side
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn(
            "is_new",
            F.when(gap.isNull() | (gap > SESSION_GAP_SECONDS), 1).otherwise(0),
        )
        .withColumn("session_seq", F.sum("is_new").over(run))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
                "duration_s"
            ),
        )
        .orderBy("user_id", "session_seq")
    )


QWIN_ORACLE = """
SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
"""


@declare("q_event_daily_windows", oracle=QWIN_ORACLE, description="tumbling time-window aggregation (T5 [ext] batch form)")
def q_event_daily_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    return (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .orderBy("day", "event_type")
    )


# As-of join (J4 [ext]): each purchase joined to the same user's latest
# click at-or-before the purchase time.  Join + window-rank, not a
# correlated subquery — the distributed-friendly formulation.
QASOF_ORACLE = """
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), ranked AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
  FROM purchases p
  JOIN clicks c ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts
)
SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
FROM ranked WHERE rn = 1
ORDER BY purchase_id
"""


@declare("q_asof_purchase_click", oracle=QASOF_ORACLE, description="as-of join: latest prior event per key (J4 [ext])")
def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import asof_join

    ev = load_tables(spark, sf_dir, "events")["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    return (
        asof_join(
            purchases,
            clicks,
            left_on="user_id",
            right_on="c_user_id",
            left_time="purchase_ts",
            right_time="click_ts",
            right_tiebreak="click_id",
        )
        .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
        .orderBy("purchase_id")
    )


QJSON_ORACLE = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
       CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS k_mod5
FROM events
ORDER BY event_id
"""


@declare("q_json_extract_props", oracle=QJSON_ORACLE, description="JSON extraction from string column (F9 json)")
def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id", k.alias("k_value"), (k % 5).alias("k_mod5")
    ).orderBy("event_id")


# Latest-event-per-user — the reference's A3 dedup pattern
# (``cdc.py:132-142``) applied to the events fixture.
QLATEST_ORACLE = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


@declare("q_latest_event_per_user", oracle=QLATEST_ORACLE, description="latest-per-key dedup via row_number window (A3)")
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.dedup import dedup_latest

    ev = load_tables(spark, sf_dir, "events")["events"]
    return (
        dedup_latest(ev, keys=["user_id"], order_by=["ts", "event_id"])
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    )


# Funnel: per user, earliest view -> first click within 1 day of the
# view -> first purchase within 1 day of that click (ordered stage
# progression with a conversion horizon, so stages genuinely vary:
# 90/35/25 at sf0.01; identical formulation in both engines).
QFUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
    AND e.ts <= v.t_view + INTERVAL 1 DAY
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    AND e.ts <= c.t_click + INTERVAL 1 DAY
  GROUP BY e.user_id
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       CASE WHEN p.user_id IS NOT NULL THEN 3
            WHEN c.user_id IS NOT NULL THEN 2
            ELSE 1 END AS funnel_stage
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
ORDER BY v.user_id
"""


@declare(
    "q_event_funnel",
    oracle=QFUNNEL_ORACLE,
    description="ordered view→click→purchase funnel per user (W3/J1 [ext] sequence analysis)",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    day = F.expr("INTERVAL 1 DAY")
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + day)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + day)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .otherwise(1)
            .alias("funnel_stage"),
        )
        .orderBy("user_id")
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


# ---------------------------------------------------------------------------
# Weekly cohort retention: users bucketed by first-activity week, then
# distinct active users per (cohort, week offset) — the standard
# retention matrix.  Two user-keyed shuffles (first-event min + the
# cohort join) and one (cohort, offset) count-distinct; all
# monday-truncated weeks, identical in both engines.
QCOHORT_ORACLE = """
WITH first_ev AS (
  SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS week
  FROM events
)
SELECT f.cohort_week,
       CAST(DATE_DIFF('day', f.cohort_week, a.week) // 7 AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM activity a JOIN first_ev f USING (user_id)
GROUP BY f.cohort_week, week_offset
ORDER BY f.cohort_week, week_offset
"""


@declare(
    "q_cohort_retention",
    oracle=QCOHORT_ORACLE,
    description="weekly cohort retention matrix (first-activity cohorts × week offsets) (analytics [ext])",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    # weeks stay TIMESTAMP on both sides: DATE columns round-trip to
    # pandas as date objects from Spark but datetime64 from DuckDB,
    # which breaks the driver's stringified value hash (same
    # convention as q_date_palette).
    first_ev = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        activity.join(first_ev, "user_id")
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) windows: 30-minute windows every 10 minutes via
# F.window(ts, "30 minutes", "10 minutes") — each event lands in 3
# windows.  The batch form of the streaming hopping aggregation (same
# expression under readStream + watermark); the DuckDB oracle unrolls
# the 3 hops explicitly.
QSLIDE_ORACLE = """
WITH hops AS (
  SELECT e.user_id, e.value,
         CAST(to_timestamp(floor(epoch(CAST(e.ts AS TIMESTAMP)) / 600) * 600
                           - h.off * 600) AS TIMESTAMP) AS w_start
  FROM events e, (SELECT UNNEST(range(3)) AS off) h
  WHERE e.ts IS NOT NULL
    AND floor(epoch(CAST(e.ts AS TIMESTAMP)) / 600) * 600 - h.off * 600
        + 1800 > epoch(CAST(e.ts AS TIMESTAMP))
)
SELECT w_start, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM hops
GROUP BY w_start
ORDER BY w_start
"""


@declare(
    "q_sliding_windows",
    oracle=QSLIDE_ORACLE,
    description="hopping-window aggregation (30 min window, 10 min slide) — batch form of the streaming hop (T5 [ext])",
)
def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts IS NOT NULL pinned EXPLICITLY on both sides: Spark groups
    # null-ts rows into a null window struct while the oracle's
    # hop-unroll WHERE drops them — without the filter the equivalence
    # holds only while the fixture has no null timestamps (ADVICE r4).
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()
    )
    return (
        ev.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
            F.sum(_d("value")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n_events", "n_users", "sum_value")
        .orderBy("w_start")
    )


# ---------------------------------------------------------------------------
# Interval-overlap concurrency (sweep line): each event holds a
# resource for (event_id % 7 + 1) minutes; max concurrent holders per
# event_type.  The distributed sweep: ±1 boundary points, partitioned
# running sum ordered by (t, delta) — ends sort before starts at the
# same instant, making the running max deterministic regardless of
# how equal keys tie-break.  One shuffle on event_type; state is the
# window, never a driver loop.
QCONC_ORACLE = """
WITH iv AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS s,
         CAST(ts AS TIMESTAMP) + (event_id % 7 + 1) * INTERVAL 1 MINUTE AS e
  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
), pts AS (
  SELECT event_type, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT event_type, e AS t, -1 AS d FROM iv
), run AS (
  SELECT event_type,
         SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM pts
)
SELECT r.event_type,
       CAST(n.n AS BIGINT) AS n_intervals,
       CAST(MAX(r.c) AS BIGINT) AS max_concurrency
FROM run r
JOIN (SELECT event_type, COUNT(*) AS n FROM iv GROUP BY event_type) n
  USING (event_type)
GROUP BY r.event_type, n.n
ORDER BY r.event_type
"""


@declare(
    "q_interval_concurrency",
    oracle=QCONC_ORACLE,
    description="max concurrent intervals per type via distributed sweep line (±1 boundaries + partitioned running sum) (W3 family [ext])",
)
def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # a NULL event_id has an undefined interval length (its NULL end
    # boundary sorts opposite ways in the two engines' sweeps)
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    iv = ev.select(
        "event_type",
        F.col("ts").alias("s"),
        F.expr(
            "ts + make_dt_interval(0, 0, CAST(event_id % 7 + 1 AS DOUBLE), 0)"
        ).alias("e"),
    )
    pts = iv.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        iv.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = pts.withColumn("c", F.sum("d").over(w))
    n = iv.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        run.groupBy("event_type")
        .agg(F.max("c").cast("long").alias("max_concurrency"))
        .join(n, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_intervals"),
            "max_concurrency",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# As-of join directions (pandas merge_asof / kdb aj parity): forward
# (earliest right at-or-after) and nearest (min |Δt|, ties toward the
# earlier right row).  Same shuffle shape as the backward form
# (q_asof_purchase_click): one key-partitioned join + per-left-row
# rank window.
QASOF_FWD_ORACLE = """
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
), clicks AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
), ranked AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.click_ts ASC, c.click_id ASC) AS rn
  FROM purchases p
  JOIN clicks c ON p.user_id = c.user_id AND c.click_ts >= p.purchase_ts
)
SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
FROM ranked WHERE rn = 1
ORDER BY purchase_id
"""


@declare(
    "q_asof_forward",
    oracle=QASOF_FWD_ORACLE,
    description="forward as-of join: earliest subsequent event per key (J4 direction parity [ext])",
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import asof_join

    ev = load_tables(spark, sf_dir, "events")["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    return (
        asof_join(
            purchases,
            clicks,
            left_on="user_id",
            right_on="c_user_id",
            left_time="purchase_ts",
            right_time="click_ts",
            right_tiebreak="click_id",
            direction="forward",
        )
        .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
        .orderBy("purchase_id")
    )


QASOF_NEAR_ORACLE = """
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), ranked AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts,
         ROW_NUMBER() OVER (
           PARTITION BY p.purchase_id
           ORDER BY ABS(epoch(CAST(c.click_ts AS TIMESTAMP))
                        - epoch(CAST(p.purchase_ts AS TIMESTAMP))) ASC,
                    c.click_ts ASC, c.click_id ASC) AS rn
  FROM purchases p
  JOIN clicks c ON p.user_id = c.user_id
)
SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
FROM ranked WHERE rn = 1
ORDER BY purchase_id
"""


@declare(
    "q_asof_nearest",
    oracle=QASOF_NEAR_ORACLE,
    description="nearest as-of join: min |Δt| event per key, ties toward the earlier row (J4 direction parity [ext])",
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import asof_join

    # timeline fence: an event without a timestamp cannot be an as-of
    # match candidate (its |delta-t| is NULL, which ranks opposite ways
    # in the two engines)
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    return (
        asof_join(
            purchases,
            clicks,
            left_on="user_id",
            right_on="c_user_id",
            left_time="purchase_ts",
            right_time="click_ts",
            right_tiebreak="click_id",
            direction="nearest",
        )
        .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
        .orderBy("purchase_id")
    )


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


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimator for time-to-first-purchase ([ext]
# survival analysis — time-to-event curves at 100 TB are one narrow
# per-user aggregate + one duration-bounded windowed pass; the
# duration table is at most observation-window-hours rows, so the
# window stage is trivially small no matter the event volume).  The
# clock starts at a user's first event; the "death" is their first
# purchase; users whose first purchase falls outside the 72-hour
# observation window (or who never purchase) are administratively
# right-CENSORED at 72 h — they leave the at-risk set without
# counting as an event, which is exactly what KM exists to handle.
# Durations are integer hours via µs integer division (``unix_micros``
# ≡ ``epoch_us``, no doubles).  S(t) = Π_{s≤t} (1 − d_s/n_s),
# computed as exp of a decimal-accumulated Σ round(ln(·),10) so both
# engines sum identical addends in any order.
QKM_ORACLE = """
WITH first_ev AS (
  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
), first_buy AS (
  SELECT user_id, MIN(ts) AS tp FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), raw AS (
  SELECT (epoch_us(p.tp) - epoch_us(f.t0)) // 3600000000 AS h
  FROM first_ev f LEFT JOIN first_buy p USING (user_id)
), lifetimes AS (
  SELECT CASE WHEN h IS NOT NULL AND h <= 72 THEN h ELSE 72 END AS dur,
         CASE WHEN h IS NOT NULL AND h <= 72 THEN 0 ELSE 1 END AS censored
  FROM raw
), by_dur AS (
  SELECT dur,
         SUM(1 - censored) AS d,
         COUNT(*) AS leaving
  FROM lifetimes GROUP BY dur
), at_risk AS (
  SELECT dur, d,
         SUM(leaving) OVER (ORDER BY dur DESC) AS n
  FROM by_dur
), terms AS (
  SELECT dur, d, n,
         CASE WHEN d < n
              THEN CAST(ROUND(LN(1 - d / CAST(n AS DOUBLE)), 10) AS DECIMAL(18,12))
              ELSE NULL END AS term
  FROM at_risk WHERE d > 0
)
SELECT dur, CAST(d AS BIGINT) AS d, CAST(n AS BIGINT) AS n,
       CASE WHEN d = n THEN 0.0
            ELSE ROUND(EXP(CAST(SUM(term) OVER (ORDER BY dur) AS DOUBLE)), 6)
       END AS survival
FROM terms
ORDER BY dur
"""


@declare(
    "q_kaplan_meier",
    oracle=QKM_ORACLE,
    description="Kaplan-Meier time-to-first-purchase curve with administrative right-censoring at 72h — product-limit via decimal-accumulated log sum (survival [ext])",
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    first_ev = events.groupBy("user_id").agg(F.min("ts").alias("t0"))
    first_buy = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    h = F.expr("(unix_micros(tp) - unix_micros(t0)) div 3600000000")
    observed = h.isNotNull() & (h <= 72)
    lifetimes = first_ev.join(first_buy, "user_id", "left").select(
        F.when(observed, h).otherwise(F.lit(72)).alias("dur"),
        F.when(observed, F.lit(0)).otherwise(F.lit(1)).alias("censored"),
    )
    by_dur = lifetimes.groupBy("dur").agg(
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    # The windowed passes below run over the duration-distinct table
    # (≤ max-lifetime-days rows) — a deliberate single-partition stage
    # over a cardinality-bounded input, not over the event volume.
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = by_dur.withColumn("n", F.sum("leaving").over(w_desc)).filter(
        F.col("d") > 0
    )
    term = F.when(
        F.col("d") < F.col("n"),
        F.round(F.log(F.lit(1) - F.col("d") / F.col("n").cast("double")), 10).cast(
            "decimal(18,12)"
        ),
    )
    w_asc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        at_risk.withColumn("term", term)
        .withColumn(
            "survival",
            F.when(F.col("d") == F.col("n"), F.lit(0.0)).otherwise(
                F.round(F.exp(F.sum("term").over(w_asc).cast("double")), 6)
            ),
        )
        .select(
            "dur",
            # DuckDB widens SUM/windowed-SUM to HUGEINT; publish BIGINT
            F.col("d").cast("long").alias("d"),
            F.col("n").cast("long").alias("n"),
            "survival",
        )
        .orderBy("dur")
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
# Nelson-Aalen cumulative hazard ([ext] survival — the hazard-side
# sibling of q_kaplan_meier over the IDENTICAL censored
# time-to-first-purchase fixture).  H(t) = Σ_{s≤t} d_s/n_s
# with each term rounded to 10 and accumulated in decimal so both
# engines sum identical addends; the Breslow survivor exp(−H) rides
# along.  Same 100 TB shape as KM: one narrow per-user aggregate, then
# windows over the ≤73-row duration table.

QNA_ORACLE = """
WITH first_ev AS (
  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
), first_buy AS (
  SELECT user_id, MIN(ts) AS tp FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), raw AS (
  SELECT (epoch_us(p.tp) - epoch_us(f.t0)) // 3600000000 AS h
  FROM first_ev f LEFT JOIN first_buy p USING (user_id)
), lifetimes AS (
  SELECT CASE WHEN h IS NOT NULL AND h <= 72 THEN h ELSE 72 END AS dur,
         CASE WHEN h IS NOT NULL AND h <= 72 THEN 0 ELSE 1 END AS censored
  FROM raw
), by_dur AS (
  SELECT dur, SUM(1 - censored) AS d, COUNT(*) AS leaving
  FROM lifetimes GROUP BY dur
), at_risk AS (
  SELECT dur, d, SUM(leaving) OVER (ORDER BY dur DESC) AS n
  FROM by_dur
), terms AS (
  SELECT dur, d, n,
         CAST(ROUND(d / CAST(n AS DOUBLE), 10) AS DECIMAL(18,12)) AS term
  FROM at_risk WHERE d > 0
)
SELECT dur, CAST(d AS BIGINT) AS d, CAST(n AS BIGINT) AS n,
       ROUND(CAST(SUM(term) OVER (ORDER BY dur) AS DOUBLE), 6) AS cum_hazard,
       ROUND(EXP(-CAST(SUM(term) OVER (ORDER BY dur) AS DOUBLE)), 6) AS breslow_survival
FROM terms
ORDER BY dur
"""


@declare(
    "q_nelson_aalen",
    oracle=QNA_ORACLE,
    description="Nelson-Aalen cumulative hazard + Breslow survivor over the censored time-to-first-purchase fixture — decimal-accumulated rounded hazard terms (survival [ext])",
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    first_ev = events.groupBy("user_id").agg(F.min("ts").alias("t0"))
    first_buy = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    h = F.expr("(unix_micros(tp) - unix_micros(t0)) div 3600000000")
    observed = h.isNotNull() & (h <= 72)
    lifetimes = first_ev.join(first_buy, "user_id", "left").select(
        F.when(observed, h).otherwise(F.lit(72)).alias("dur"),
        F.when(observed, F.lit(0)).otherwise(F.lit(1)).alias("censored"),
    )
    by_dur = lifetimes.groupBy("dur").agg(
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    # windows run over the ≤73-row duration table, not the event volume
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = by_dur.withColumn("n", F.sum("leaving").over(w_desc)).filter(
        F.col("d") > 0
    )
    term = F.round(F.col("d") / F.col("n").cast("double"), 10).cast("decimal(18,12)")
    w_asc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("term").over(w_asc).cast("double")
    return (
        at_risk.withColumn("term", term)
        .select(
            "dur",
            F.col("d").cast("long").alias("d"),
            F.col("n").cast("long").alias("n"),
            F.round(cum, 6).alias("cum_hazard"),
            F.round(F.exp(-cum), 6).alias("breslow_survival"),
        )
        .orderBy("dur")
    )


# ---------------------------------------------------------------------------
# Two-group log-rank test on the KM fixture (q_kaplan_meier): group = user_id
# parity.  At each event time t: d = d0+d1 deaths, n = n0+n1 at risk;
# E1 = d·n1/n and V = d·(n1/n)·(n0/n)·(n−d)/(n−1) accumulate as
# round(·,10) decimals; χ² = (O1−E1)²/V.

QLR_ORACLE = """
WITH first_ev AS (
  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
), first_buy AS (
  SELECT user_id, MIN(ts) AS tp FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), raw AS (
  SELECT f.user_id % 2 AS grp,
         (epoch_us(p.tp) - epoch_us(f.t0)) // 3600000000 AS h
  FROM first_ev f LEFT JOIN first_buy p USING (user_id)
), lifetimes AS (
  SELECT grp,
         CASE WHEN h IS NOT NULL AND h <= 72 THEN h ELSE 72 END AS dur,
         CASE WHEN h IS NOT NULL AND h <= 72 THEN 0 ELSE 1 END AS censored
  FROM raw
), by_dur AS (
  SELECT grp, dur, SUM(1 - censored) AS d, COUNT(*) AS leaving
  FROM lifetimes GROUP BY grp, dur
), at_risk AS (
  SELECT grp, dur, d,
         SUM(leaving) OVER (PARTITION BY grp ORDER BY dur DESC) AS n
  FROM by_dur
), dense AS (
  SELECT t.dur,
         COALESCE(a1.d, 0) AS d1, COALESCE(a1.n, fn1.n, 0) AS n1,
         COALESCE(a0.d, 0) AS d0, COALESCE(a0.n, fn0.n, 0) AS n0
  FROM (SELECT DISTINCT dur FROM at_risk) t
  LEFT JOIN at_risk a1 ON a1.grp = 1 AND a1.dur = t.dur
  LEFT JOIN at_risk a0 ON a0.grp = 0 AND a0.dur = t.dur
  LEFT JOIN LATERAL (
    SELECT MIN(n) AS n FROM at_risk x
    WHERE x.grp = 1 AND x.dur > t.dur
  ) fn1 ON TRUE
  LEFT JOIN LATERAL (
    SELECT MIN(n) AS n FROM at_risk x
    WHERE x.grp = 0 AND x.dur > t.dur
  ) fn0 ON TRUE
), terms AS (
  SELECT dur, d1, d0, n1, n0, d1 + d0 AS d, n1 + n0 AS n,
         CAST(ROUND(CAST((d1 + d0) AS DOUBLE) * n1 / (n1 + n0), 10)
              AS DECIMAL(18,12)) AS e1,
         CAST(CASE WHEN n1 + n0 > 1 THEN
              ROUND(CAST((d1 + d0) AS DOUBLE) * n1 / (n1 + n0)
                    * n0 / (n1 + n0)
                    * (n1 + n0 - (d1 + d0)) / (n1 + n0 - 1), 10)
              ELSE 0 END AS DECIMAL(18,12)) AS v
  FROM dense WHERE d1 + d0 > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
       CAST(SUM(CAST(d1 AS HUGEINT)) AS BIGINT) AS o1,
       ROUND(CAST(SUM(e1) AS DOUBLE), 6) AS e1,
       ROUND(CAST(SUM(v) AS DOUBLE), 6) AS variance,
       ROUND(POWER(CAST(SUM(CAST(d1 AS HUGEINT)) AS DOUBLE)
                   - CAST(SUM(e1) AS DOUBLE), 2)
             / CAST(SUM(v) AS DOUBLE), 6) AS chi2
FROM terms
"""


@declare(
    "q_logrank_test",
    oracle=QLR_ORACLE,
    description="Two-group log-rank test on the censored time-to-first-purchase fixture (user-parity split): integer at-risk tables, rounded-addend E/V sums, one chi-square (survival [ext])",
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    first_ev = events.groupBy("user_id").agg(F.min("ts").alias("t0"))
    first_buy = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    h = F.expr("(unix_micros(tp) - unix_micros(t0)) div 3600000000")
    observed = h.isNotNull() & (h <= 72)
    lifetimes = first_ev.join(first_buy, "user_id", "left").select(
        (F.col("user_id") % 2).alias("grp"),
        F.when(observed, h).otherwise(F.lit(72)).alias("dur"),
        F.when(observed, F.lit(0)).otherwise(F.lit(1)).alias("censored"),
    )
    by_dur = lifetimes.groupBy("grp", "dur").agg(
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    # ≤73-row duration table per group — the windows are trivially small
    w_desc = (
        Window.partitionBy("grp")
        .orderBy(F.col("dur").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    at_risk = by_dur.withColumn("n", F.sum("leaving").over(w_desc))
    # Pin the at-risk table (r12, guide §2.4): ≤146 rows (2 groups ×
    # ≤73 durations) but consumed THREE times (the dense time axis +
    # one filtered branch per group) — unpinned, each consumer
    # re-planned the events→first_ev/first_buy join subtree
    # (16 parquet scans / 46 Exchange nodes).
    at_risk = at_risk.localCheckpoint(eager=True)
    times = at_risk.select("dur").distinct()
    # densify: each group's at-risk count at EVERY event time is its
    # next-at-or-after cumulative (at-risk is right-continuous,
    # non-increasing in dur) — a per-group min-over-following window
    # after a left join onto the dense time axis
    dense_g = []
    for g in (0, 1):
        ag = at_risk.filter(F.col("grp") == g).select(
            "dur", F.col("d").alias(f"d{g}"), F.col("n").alias(f"n{g}")
        )
        j = times.join(ag, "dur", "left")
        w_fwd = Window.orderBy("dur").rowsBetween(1, Window.unboundedFollowing)
        j = j.select(
            "dur",
            F.coalesce(F.col(f"d{g}"), F.lit(0)).alias(f"d{g}"),
            F.coalesce(
                F.col(f"n{g}"), F.min(f"n{g}").over(w_fwd), F.lit(0)
            ).alias(f"n{g}"),
        )
        dense_g.append(j)
    dense = dense_g[0].join(dense_g[1], "dur")
    d = F.col("d1") + F.col("d0")
    n = F.col("n1") + F.col("n0")
    e1 = F.round(d.cast("double") * F.col("n1") / n, 10).cast("decimal(18,12)")
    v = (
        F.when(
            n > 1,
            F.round(
                d.cast("double")
                * F.col("n1")
                / n
                * F.col("n0")
                / n
                * (n - d)
                / (n - 1),
                10,
            ),
        )
        .otherwise(F.lit(0))
        .cast("decimal(18,12)")
    )
    terms = dense.filter(d > 0).select(
        F.col("d1"), e1.alias("e1"), v.alias("v")
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_times"),
        F.sum(F.col("d1").cast("decimal(38,0)")).cast("long").alias("o1"),
        F.round(F.sum("e1").cast("double"), 6).alias("e1"),
        F.round(F.sum("v").cast("double"), 6).alias("variance"),
        F.round(
            F.pow(
                F.sum(F.col("d1").cast("decimal(38,0)")).cast("double")
                - F.sum("e1").cast("double"),
                2,
            )
            / F.sum("v").cast("double"),
            6,
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution via 3 exact power-iteration steps
# ([ext] — the steady-state companion of q_markov_transitions):
# transition probabilities and every π re-round to 10 decimals so the
# per-step keyed join + group-sum is engine-exact.  State set =
# types with outgoing transitions; P rows renormalized over that set.

QMS_ORACLE = """
WITH seq AS (
  SELECT event_type AS prev,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS nxt
  FROM events WHERE ts IS NOT NULL
), tc AS (
  SELECT prev, nxt, COUNT(*) AS n FROM seq WHERE nxt IS NOT NULL
  GROUP BY prev, nxt
), states AS (
  SELECT DISTINCT prev AS s FROM tc
), tc2 AS (
  SELECT prev, nxt, n FROM tc WHERE nxt IN (SELECT s FROM states)
), p AS (
  SELECT prev, nxt,
         CAST(ROUND(CAST(n AS DOUBLE)
                    / SUM(n) OVER (PARTITION BY prev), 10)
              AS DECIMAL(18,12)) AS p
  FROM tc2
), k AS (SELECT COUNT(*) AS ns FROM states),
pi0 AS (
  SELECT s, CAST(ROUND(1.0 / ns, 10) AS DECIMAL(18,12)) AS pi FROM states, k
), pi1 AS (
  SELECT p.nxt AS s,
         CAST(ROUND(CAST(SUM(pi0.pi * p.p) AS DOUBLE), 10) AS DECIMAL(18,12))
           AS pi
  FROM pi0 JOIN p ON pi0.s = p.prev GROUP BY p.nxt
), pi2 AS (
  SELECT p.nxt AS s,
         CAST(ROUND(CAST(SUM(pi1.pi * p.p) AS DOUBLE), 10) AS DECIMAL(18,12))
           AS pi
  FROM pi1 JOIN p ON pi1.s = p.prev GROUP BY p.nxt
), pi3 AS (
  SELECT p.nxt AS s,
         CAST(ROUND(CAST(SUM(pi2.pi * p.p) AS DOUBLE), 10) AS DECIMAL(18,12))
           AS pi
  FROM pi2 JOIN p ON pi2.s = p.prev GROUP BY p.nxt
)
SELECT s AS event_type, ROUND(CAST(pi AS DOUBLE), 6) AS pi3
FROM pi3 ORDER BY event_type
"""


@declare(
    "q_markov_stationary",
    oracle=QMS_ORACLE,
    description="Markov stationary distribution via 3 exact power-iteration steps (rounded-decimal probabilities, per-step keyed join + group sum) — steady-state companion of q_markov_transitions (graph/stats [ext])",
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tc = seq.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("n"))
    # Pin the transition-count table (r12, guide §2.4): tc is bounded
    # by |event_type|² and feeds states, tc2→p AND (through p) every
    # power-iteration step — unpinned, the events window subtree was
    # re-planned per consumer (16 parquet scans / 22 Window nodes).
    tc = tc.localCheckpoint(eager=True)
    states = tc.select(F.col("prev").alias("s")).distinct()
    tc2 = tc.join(
        F.broadcast(states.withColumnRenamed("s", "nxt")), "nxt", "left_semi"
    )
    wp = Window.partitionBy("prev")
    p = tc2.select(
        "prev",
        "nxt",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 10)
        .cast("decimal(18,12)")
        .alias("p"),
    )
    # p is joined once per iteration (3 consumers) — same pin rationale
    p = p.localCheckpoint(eager=True)
    ns = states.agg(F.count(F.lit(1)).alias("ns"))
    pi = states.crossJoin(F.broadcast(ns)).select(
        "s",
        F.round(F.lit(1.0) / F.col("ns"), 10).cast("decimal(18,12)").alias("pi"),
    )
    for _ in range(3):
        pi = (
            pi.join(p, pi["s"] == p["prev"])
            .groupBy(F.col("nxt").alias("s2"))
            .agg(
                F.round(F.sum(F.col("pi") * F.col("p")).cast("double"), 10)
                .cast("decimal(18,12)")
                .alias("pi")
            )
            .withColumnRenamed("s2", "s")
        )
    return pi.select(
        F.col("s").alias("event_type"),
        F.round(F.col("pi").cast("double"), 6).alias("pi3"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Sequence pattern matching over per-user event strings — the
# MATCH_RECOGNIZE workhorse expressed as sessionized string + regex.
# The per-user string is bounded by the user's event count (the same
# grain every sessionization already shuffles on); patterns run
# map-side after ONE user-keyed agg.

QPAT_ORACLE = """
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN regexp_matches(s, 'v.*c.*p') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_funnel,
       CAST(SUM(CASE WHEN regexp_matches(s, 'vcp') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contiguous,
       CAST(SUM(CASE WHEN regexp_matches(s, 'e') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_error,
       ROUND(CAST(SUM(CASE WHEN regexp_matches(s, 'v.*c.*p') THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS funnel_share
FROM seq
"""


@declare(
    "q_event_pattern_match",
    oracle=QPAT_ORACLE,
    description="MATCH_RECOGNIZE-style sequence patterns: per-user time-ordered event-initial strings, regex funnel counts (subsequence and contiguous view→click→purchase) from one user-keyed agg (behavioural analytics [ext])",
)
def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    seq = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda x: x["c"],
            ),
        ).alias("s")
    )
    return seq.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("s").rlike("v.*c.*p").cast("int")).cast("long").alias("n_funnel"),
        F.sum(F.col("s").rlike("vcp").cast("int"))
        .cast("long")
        .alias("n_contiguous"),
        F.sum(F.col("s").rlike("e").cast("int")).cast("long").alias("n_with_error"),
        F.round(
            F.sum(F.col("s").rlike("v.*c.*p").cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("funnel_share"),
    )


# ---------------------------------------------------------------------------
# Restricted mean survival time: area under the KM step curve to τ=72.

QRMST_ORACLE = """
WITH first_ev AS (
  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
), first_buy AS (
  SELECT user_id, MIN(ts) AS tp FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), raw AS (
  SELECT (epoch_us(p.tp) - epoch_us(f.t0)) // 3600000000 AS h
  FROM first_ev f LEFT JOIN first_buy p USING (user_id)
), lifetimes AS (
  SELECT CASE WHEN h IS NOT NULL AND h <= 72 THEN h ELSE 72 END AS dur,
         CASE WHEN h IS NOT NULL AND h <= 72 THEN 0 ELSE 1 END AS censored
  FROM raw
), by_dur AS (
  SELECT dur, SUM(1 - censored) AS d, COUNT(*) AS leaving
  FROM lifetimes GROUP BY dur
), at_risk AS (
  SELECT dur, d, SUM(leaving) OVER (ORDER BY dur DESC) AS n
  FROM by_dur
), surv AS (
  SELECT dur,
         CASE WHEN d = n THEN 0.0
              ELSE ROUND(EXP(CAST(SUM(
                CASE WHEN d < n THEN
                  CAST(ROUND(LN(1 - d / CAST(n AS DOUBLE)), 10)
                       AS DECIMAL(18,12)) END)
                OVER (ORDER BY dur) AS DOUBLE)), 6)
         END AS s
  FROM at_risk WHERE d > 0
), steps AS (
  SELECT dur, s,
         COALESCE(LAG(dur) OVER (ORDER BY dur), 0) AS prev_dur,
         COALESCE(LAG(s) OVER (ORDER BY dur), 1.0) AS prev_s
  FROM surv
), pieces AS (
  SELECT CAST(ROUND(prev_s * (dur - prev_dur), 8) AS DECIMAL(18,10)) AS area,
         dur, s
  FROM steps
), last_piece AS (
  SELECT CAST(ROUND(s * (72 - dur), 8) AS DECIMAL(18,10)) AS area
  FROM surv ORDER BY dur DESC LIMIT 1
)
SELECT CAST(72 AS BIGINT) AS tau_hours,
       ROUND(CAST((SELECT SUM(area) FROM pieces)
             + (SELECT area FROM last_piece) AS DOUBLE), 6) AS rmst_hours
"""


@declare(
    "q_rmst",
    oracle=QRMST_ORACLE,
    description="Restricted mean survival time (area under the KM curve to τ=72h) over the time-to-first-purchase fixture — lag-window step integral on the duration-bounded table (survival [ext])",
)
def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    first_ev = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    first_buy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    h = F.expr("(unix_micros(tp) - unix_micros(t0)) div 3600000000")
    observed = h.isNotNull() & (h <= 72)
    lifetimes = first_ev.join(first_buy, "user_id", "left").select(
        F.when(observed, h).otherwise(F.lit(72)).alias("dur"),
        F.when(observed, F.lit(0)).otherwise(F.lit(1)).alias("censored"),
    )
    by_dur = lifetimes.groupBy("dur").agg(
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = by_dur.withColumn("n", F.sum("leaving").over(w_desc))
    term = F.when(
        F.col("d") < F.col("n"),
        F.round(F.log(1 - F.col("d") / F.col("n").cast("double")), 10).cast(
            "decimal(18,12)"
        ),
    )
    w_asc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    surv = (
        at_risk.filter(F.col("d") > 0)
        .withColumn(
            "s",
            F.when(F.col("d") == F.col("n"), F.lit(0.0)).otherwise(
                F.round(F.exp(F.sum(term).over(w_asc).cast("double")), 6)
            ),
        )
        .select("dur", "s")
    )
    surv = surv.localCheckpoint(eager=True)  # steps + last piece share it
    w = Window.orderBy("dur")
    steps = surv.withColumn(
        "prev_dur", F.coalesce(F.lag("dur").over(w), F.lit(0))
    ).withColumn("prev_s", F.coalesce(F.lag("s").over(w), F.lit(1.0)))
    pieces = steps.select(
        F.round(F.col("prev_s") * (F.col("dur") - F.col("prev_dur")), 8)
        .cast("decimal(18,10)")
        .alias("area")
    )
    last_piece = (
        surv.orderBy(F.col("dur").desc())
        .limit(1)
        .select(
            F.round(F.col("s") * (F.lit(72) - F.col("dur")), 8)
            .cast("decimal(18,10)")
            .alias("area")
        )
    )
    total = pieces.unionByName(last_piece).agg(
        F.round(F.sum("area").cast("double"), 6).alias("rmst_hours")
    )
    return total.select(
        F.lit(72).cast("long").alias("tau_hours"), "rmst_hours"
    )


# ---------------------------------------------------------------------------
# Weibull median-rank regression over the uncensored durations.

QWEIB_ORACLE = """
WITH first_ev AS (
  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
), first_buy AS (
  SELECT user_id, MIN(ts) AS tp FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), raw AS (
  SELECT (epoch_us(p.tp) - epoch_us(f.t0)) // 3600000000 AS h
  FROM first_ev f JOIN first_buy p USING (user_id)
), ev AS (
  SELECT h AS t FROM raw WHERE h >= 1 AND h <= 72
), cells AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY t
), ranked AS (
  SELECT t, SUM(c) OVER (ORDER BY t) AS i, SUM(c) OVER () AS n
  FROM cells
), xy AS (
  SELECT ROUND(ln(CAST(t AS DOUBLE)), 10) AS x,
         ROUND(ln(-ln(1 - (i - 0.3) / (n + 0.4))), 10) AS y
  FROM ranked WHERE (i - 0.3) / (n + 0.4) < 1
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * y, 8) AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(x * x, 8) AS DECIMAL(28,10))) AS DOUBLE) AS sxx
  FROM xy
)
SELECT n AS n_points,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS shape_k,
       ROUND(exp(-((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
                 / ((n * sxy - sx * sy) / (n * sxx - sx * sx))), 6) AS scale_lambda
FROM mom
"""


@declare(
    "q_weibull_fit",
    oracle=QWEIB_ORACLE,
    description="Weibull shape/scale via median-rank regression (Benard's approximation) on uncensored time-to-purchase durations — ln(−ln(1−F)) vs ln(t) closed-form OLS over the duration-bounded table (reliability engineering [ext])",
)
def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    first_ev = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    first_buy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    h = F.expr("(unix_micros(tp) - unix_micros(t0)) div 3600000000")
    durs = (
        first_ev.join(first_buy, "user_id")
        .select(h.alias("t"))
        .filter((F.col("t") >= 1) & (F.col("t") <= 72))
    )
    cells = durs.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    ranked = cells.withColumn("i", F.sum("c").over(wc)).withColumn(
        "n", F.sum("c").over(Window.partitionBy())
    )
    fr = (F.col("i") - 0.3) / (F.col("n") + 0.4)
    xy = ranked.filter(fr < 1).select(
        F.round(F.log(F.col("t").cast("double")), 10).alias("x"),
        F.round(F.log(-F.log(1 - fr)), 10).alias("y"),
    )
    mom = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(28,12)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,12)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 8).cast("decimal(28,10)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 8).cast("decimal(28,10)"))
        .cast("double")
        .alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return mom.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("shape_k"),
        F.round(F.exp(-intercept / slope), 6).alias("scale_lambda"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV: cumulative purchase value per user by cohort age.

QLTV_ORACLE = """
WITH first_ev AS (
  SELECT user_id, date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cw
  FROM events GROUP BY user_id
), csize AS (
  SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM first_ev GROUP BY cw
), rev AS (
  SELECT f.cw,
         CAST(floor(date_diff('day', f.cw,
              date_trunc('week', CAST(e.ts AS TIMESTAMP))) / 7) AS BIGINT)
           AS week_offset,
         SUM(CAST(ROUND(e.value, 6) AS DECIMAL(18,6))) AS v
  FROM events e JOIN first_ev f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
), cum AS (
  SELECT r.cw, r.week_offset, c.cohort_size,
         SUM(r.v) OVER (PARTITION BY r.cw ORDER BY r.week_offset) AS cum_v
  FROM rev r JOIN csize c USING (cw)
)
SELECT CAST(cw AS TIMESTAMP) AS cohort_week, week_offset, cohort_size,
       ROUND(CAST(cum_v AS DOUBLE) / cohort_size, 6) AS ltv_per_user
FROM cum ORDER BY cohort_week, week_offset
"""


@declare(
    "q_cohort_ltv",
    oracle=QLTV_ORACLE,
    description="Cumulative purchase value per user by cohort age (weekly first-activity cohorts): decimal-exact per-offset revenue, window cumulation over bounded offsets (product analytics [ext])",
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    first_ev = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    first_ev = first_ev.localCheckpoint(eager=True)  # size + join share it
    csize = first_ev.groupBy("cw").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_ev, "user_id")
        .groupBy(
            "cw",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cw")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).alias("v"))
    )
    w = Window.partitionBy("cw").orderBy("week_offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = rev.join(F.broadcast(csize), "cw").withColumn(
        "cum_v", F.sum("v").over(w)
    )
    return cum.select(
        F.col("cw").alias("cohort_week"),
        "week_offset",
        "cohort_size",
        F.round(F.col("cum_v").cast("double") / F.col("cohort_size"), 6).alias(
            "ltv_per_user"
        ),
    ).orderBy("cohort_week", "week_offset")


# ---------------------------------------------------------------------------
# Negative-binomial method-of-moments fit per event type.

QNB_ORACLE = """
WITH hourly AS (
  SELECT event_type AS etype, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), g AS (
  SELECT etype, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(y AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS BIGINT) AS ss
  FROM hourly GROUP BY etype
), fit AS (
  SELECT etype, n,
         CAST(s AS DOUBLE) / n AS m,
         (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) AS v
  FROM g
)
SELECT etype, n AS n_hours, ROUND(m, 6) AS mean_count, ROUND(v, 6) AS var_count,
       CASE WHEN v > m THEN ROUND(m * m / (v - m), 6) END AS nb_r,
       CASE WHEN v > m THEN ROUND(m / v, 6) END AS nb_p,
       v > m AS overdispersed
FROM fit ORDER BY etype
"""


@declare(
    "q_negbin_fit",
    oracle=QNB_ORACLE,
    description="Negative-binomial method-of-moments fit (r = m²/(v−m), p = m/v) of hourly arrival counts per event type — the count-model companion of q_fano_burstiness (count models [ext])",
)
def q_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeline fence: no ts → no hour bucket; no type → no series
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    hourly = ev.groupBy(
        F.col("event_type").alias("etype"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    g = hourly.groupBy("etype").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )
    m = F.col("s").cast("double") / F.col("n")
    # try_divide: a 1-hour series has an undefined sample variance —
    # NULL (SQL's x/0), never an ANSI crash
    v = F.try_divide(
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n"),
        (F.col("n") - 1).cast("double"),
    )
    return g.select(
        "etype",
        F.col("n").alias("n_hours"),
        F.round(m, 6).alias("mean_count"),
        F.round(v, 6).alias("var_count"),
        F.when(v > m, F.round(m * m / (v - m), 6)).alias("nb_r"),
        F.when(v > m, F.round(m / v, 6)).alias("nb_p"),
        (v > m).alias("overdispersed"),
    ).orderBy("etype")
