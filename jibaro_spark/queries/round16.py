"""Round-16 declared queries — log-rank survival comparison,
Cochran-Armitage trend, Heaps'-law vocabulary growth, and the Markov
stationary distribution.

* ``q_logrank_test`` — the two-group log-rank test over the censored
  time-to-first-purchase fixture (user parity split), completing the
  survival wing (KM curve, Nelson-Aalen hazard, now the comparison
  test): integer (d, n, d1, n1) per event time, expected/variance
  terms rounded to 10 and decimal-summed, one chi-square at the end.
* ``q_cochran_armitage`` — trend-in-proportions across ordered price
  quintile bins (fixed-width cents bins) for the return flag, per
  linestatus: T = Σ sᵢ(rᵢ − nᵢR/N) and its variance from exact
  integer sums.
* ``q_heaps_law`` — vocabulary-growth checkpoints: token first
  occurrence (min doc per token) + doc-count deciles; V(n) vs tokens
  seen at each checkpoint — the corpus-diversity diagnostic behind
  dedup/mixture decisions.
* ``q_markov_stationary`` — three exact power-iteration steps of the
  event-type transition matrix (round(·,10)-decimal probabilities,
  uniform start, per-step re-rounding) — the steady-state companion of
  q_markov_transitions.

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.registry import declare, load_tables

# ---------------------------------------------------------------------------
# Two-group log-rank test on the KM fixture (round6d): group = user_id
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
# Cochran-Armitage trend test per linestatus: ordered exposure = fixed
# price-quintile bin (scores 0..4), outcome = returnflag = 'R'.
# T = Σ sᵢ(rᵢ − nᵢ·R/N); Var(T) = R/N·(1−R/N)·(Σ sᵢ²nᵢ − (Σ sᵢnᵢ)²/N).
# All sums exact integers; two double divisions at the end.

QCA_ORACLE = """
WITH b AS (
  SELECT l_linestatus AS ls,
         LEAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               * 5 // 12000000, 4) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
  FROM lineitem
  WHERE l_linestatus IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_returnflag IS NOT NULL
), cells AS (
  SELECT ls, s, COUNT(*) AS n, SUM(r) AS rr FROM b GROUP BY ls, s
), m AS (
  SELECT ls,
         SUM(CAST(n AS HUGEINT)) AS nt, SUM(CAST(rr AS HUGEINT)) AS rt,
         SUM(CAST(s AS HUGEINT) * rr) AS srr,
         SUM(CAST(s AS HUGEINT) * n) AS sn,
         SUM(CAST(s AS HUGEINT) * s * n) AS ssn
  FROM cells GROUP BY ls
)
SELECT ls, CAST(nt AS BIGINT) AS n, CAST(rt AS BIGINT) AS n_returned,
       ROUND(CAST(nt * srr - rt * sn AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS t_stat,
       ROUND((CAST(rt AS DOUBLE) / nt) * (1 - CAST(rt AS DOUBLE) / nt)
             * (CAST(ssn AS DOUBLE) - CAST(sn * sn AS DOUBLE) / nt), 6)
         AS variance,
       ROUND(POWER(CAST(nt * srr - rt * sn AS DOUBLE) / CAST(nt AS DOUBLE), 2)
             / ((CAST(rt AS DOUBLE) / nt) * (1 - CAST(rt AS DOUBLE) / nt)
                * (CAST(ssn AS DOUBLE) - CAST(sn * sn AS DOUBLE) / nt)), 6)
         AS chi2
FROM m ORDER BY ls
"""


@declare(
    "q_cochran_armitage",
    oracle=QCA_ORACLE,
    description="Cochran-Armitage trend test (return rate across fixed price-quintile scores) per linestatus from exact integer sums (stats [ext])",
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): the trend axis needs a
    # defined group, score, and outcome — and an all-zero-outcome NULL
    # group would divide by Var(T)=0 under ANSI
    li = li.filter(
        F.col("l_linestatus").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    b = li.select(
        F.col("l_linestatus").alias("ls"),
        F.expr(
            "least(cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"
            " * 5 div 12000000, 4)"
        ).alias("s"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
    )
    cells = b.groupBy("ls", "s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("r").alias("rr")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = cells.groupBy("ls").agg(
        F.sum(d("n")).alias("nt"),
        F.sum(d("rr")).alias("rt"),
        F.sum(d("s") * F.col("rr")).alias("srr"),
        F.sum(d("s") * F.col("n")).alias("sn"),
        F.sum(d("s") * F.col("s") * F.col("n")).alias("ssn"),
    )
    t = (F.col("nt") * F.col("srr") - F.col("rt") * F.col("sn")).cast("double") / F.col(
        "nt"
    ).cast("double")
    p = F.col("rt").cast("double") / F.col("nt").cast("double")
    var = (
        p
        * (1 - p)
        * (
            F.col("ssn").cast("double")
            - (F.col("sn") * F.col("sn")).cast("double") / F.col("nt").cast("double")
        )
    )
    return m.select(
        "ls",
        F.col("nt").cast("long").alias("n"),
        F.col("rt").cast("long").alias("n_returned"),
        F.round(t, 6).alias("t_stat"),
        F.round(var, 6).alias("variance"),
        F.round(F.pow(t, 2) / var, 6).alias("chi2"),
    ).orderBy("ls")


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth ([ext] corpus diagnostics): token first
# occurrence (MIN doc_id per token — one keyed agg) + doc-id decile
# cutoffs from the exact doc ECDF; V(checkpoint) and tokens-seen from
# counts-first joins.  The diversity curve that motivates dedup /
# mixture reweighting at 100 TB.

QHL_ORACLE = """
WITH toks AS (
  SELECT doc_id, t AS tok
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) AS u(t)
  WHERE length(t) >= 2 AND doc_id IS NOT NULL
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id
), ranked AS (
  SELECT doc_id, n_toks,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
         COUNT(*) OVER () AS nd
  FROM per_doc
), cuts AS (
  SELECT dec.range + 1 AS decile, MAX(r.doc_id) AS cutoff
  FROM range(0, 10) dec JOIN ranked r
    ON r.rn <= (dec.range + 1) * r.nd / 10
  GROUP BY 1
), first_occ AS (
  SELECT tok, MIN(doc_id) AS fd FROM toks GROUP BY tok
)
SELECT c.decile,
       CAST((SELECT COUNT(*) FROM ranked r WHERE r.doc_id <= c.cutoff) AS BIGINT)
         AS n_docs,
       CAST((SELECT SUM(r.n_toks) FROM ranked r WHERE r.doc_id <= c.cutoff)
            AS BIGINT) AS tokens_seen,
       CAST((SELECT COUNT(*) FROM first_occ f WHERE f.fd <= c.cutoff) AS BIGINT)
         AS vocab
FROM cuts c ORDER BY c.decile
"""


@declare(
    "q_heaps_law",
    oracle=QHL_ORACLE,
    description="Heaps'-law vocabulary growth at doc-count deciles: token first occurrence + exact cutoffs, V(n) vs tokens seen — the corpus-diversity curve behind dedup/mixture decisions (text [ext])",
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the decile axis is doc_id order — a NULL id has no position in it
    # (and sorts opposite ways in Spark vs SQL windows)
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("doc_id").isNotNull()
    )
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
        )
        .filter(F.length("tok") >= 2)
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the ranked/cumulative pass runs over the DOC table (corpus-count
    # bounded, not token volume); window is doc-sized by construction
    ranked = per_doc.select(
        "doc_id",
        "n_toks",
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
        F.sum("n_toks").over(w).alias("cum_toks"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nd"),
    )
    cuts = (
        ranked.select(
            "doc_id",
            "rn",
            "cum_toks",
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
            "nd",
        )
        .filter(F.col("rn") <= F.col("decile") * F.col("nd") / 10)
        .groupBy("decile")
        .agg(
            F.max("doc_id").alias("cutoff"),
            F.max("rn").alias("n_docs"),
            F.max("cum_toks").alias("tokens_seen"),
        )
    )
    first_occ = toks.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    vocab = (
        first_occ.join(F.broadcast(cuts.select("decile", "cutoff")), F.col("fd") <= F.col("cutoff"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    return (
        cuts.join(vocab, "decile")
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("tokens_seen").cast("long").alias("tokens_seen"),
            F.col("vocab").cast("long").alias("vocab"),
        )
        .orderBy("decile")
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
