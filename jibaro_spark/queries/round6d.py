"""Round-6d declared queries: bloom-filter join pruning, survival
analysis, multinomial Naive Bayes, hash-derived random projection,
KMV set-operation estimates, Holt double exponential smoothing,
Theil-Sen robust slope, and the Mann-Whitney U test.

Determinism contract (same as round6b/6c): every float output is a
single deterministic double expression over exact integer/decimal
inputs, an ordered array fold shared bit-for-bit by both engines
(``list_dot_product`` ≡ ``F.aggregate`` index-order sum), or a
``round(ln(x), 10) → decimal`` accumulation; hash-derived choices
(projection signs, KMV ranks) use md5 hex, identical in any engine.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.operators import similarity as sim
from jibaro_spark.queries.registry import declare, load_tables

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
# Multinomial Naive Bayes language classifier, trained AND scored
# in-engine ([ext] — the canonical cheap quality/routing model over a
# 100 TB corpus: training is one token-count aggregation, scoring is
# a map-side join against a broadcast (lang × vocab)-bounded model).
# Train on doc_id % 5 != 0, score the held-out fifth; Laplace-1
# smoothing over the train vocab; OOV test tokens are dropped (the
# standard multinomial NB contract).  Scores accumulate as
# tf × round(ln(p),10)::decimal — exact, order-independent — and the
# argmax tie-breaks on lang, so predictions are engine-invariant.
QNB_ORACLE = """
WITH train AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0
), test AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0
), train_tok AS (
  SELECT t.lang, u.tok
  FROM train t, UNNEST(regexp_split_to_array(LOWER(t.text), '[^a-z]+')) AS u(tok)
  WHERE u.tok <> ''
), counts AS (
  SELECT lang, tok, COUNT(*) AS cnt FROM train_tok GROUP BY lang, tok
), totals AS (
  SELECT lang, SUM(cnt) AS total FROM counts GROUP BY lang
), vocab AS (
  SELECT DISTINCT tok FROM train_tok
), vsize AS (
  SELECT COUNT(*) AS v FROM vocab
), priors AS (
  SELECT lang,
         CAST(ROUND(LN(CAST(nd AS DOUBLE) / SUM(nd) OVER ()), 10)
              AS DECIMAL(18,12)) AS prior
  FROM (SELECT lang, COUNT(*) AS nd FROM train GROUP BY lang)
), test_tok AS (
  SELECT s.doc_id, s.lang AS true_lang, u.tok, COUNT(*) AS tf
  FROM test s, UNNEST(regexp_split_to_array(LOWER(s.text), '[^a-z]+')) AS u(tok)
  WHERE u.tok <> '' AND u.tok IN (SELECT tok FROM vocab)
  GROUP BY s.doc_id, s.lang, u.tok
), scored AS (
  SELECT tt.doc_id, tt.true_lang, tl.lang,
         CAST(pr.prior + SUM(CAST(tt.tf *
           CAST(ROUND(LN(CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE)
                          / (tl.total + vs.v)), 10) AS DECIMAL(18,12))
           AS DECIMAL(28,12))) AS DECIMAL(28,12)) AS score
  FROM test_tok tt
  CROSS JOIN totals tl
  CROSS JOIN vsize vs
  JOIN priors pr ON pr.lang = tl.lang
  LEFT JOIN counts c ON c.lang = tl.lang AND c.tok = tt.tok
  GROUP BY tt.doc_id, tt.true_lang, tl.lang, pr.prior
), predicted AS (
  SELECT doc_id, true_lang, lang AS pred_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang) AS rn
  FROM scored
)
SELECT true_lang, pred_lang, COUNT(*) AS n
FROM predicted WHERE rn = 1
GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
"""


@declare(
    "q_naive_bayes_lang",
    oracle=QNB_ORACLE,
    description="multinomial Naive Bayes trained and scored in-engine — confusion matrix on the held-out fifth (training [ext])",
)
def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)

    train_tok = train.select("lang", F.explode(toks).alias("tok"))
    counts = train_tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    # Pin the count model (r12, guide §2.4): counts is (lang × vocab)-
    # bounded and feeds totals AND the scoring join; vocab is the same
    # token set counts already holds, so deriving it from the pinned
    # counts (instead of a second pass over train_tok) runs the
    # tokenization explode — the CPU-dense stage — ONCE instead of
    # twice.
    #
    # r13 re-ABAB on a quiet box (VERDICT r12 #2): the bench's 2.15 s
    # was ambient — baseline min today is 0.97 s.  Eager pin vs no pin
    # min-of-8: 1.187 vs 1.148 (3%, inside either mode's within-series
    # spread → neutral); a LAZY pin variant measured 5-10% worse
    # (cache-on-first-broadcast overhead) and was rejected.  The pin
    # stays: at 100 TB it halves the tokenize-explode passes for a
    # bench-neutral cost.
    counts = counts.localCheckpoint(eager=True)
    vocab = counts.select("tok").distinct()
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("total"))
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    priors = (
        train.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nd"))
        .withColumn(
            "prior",
            F.round(
                F.log(F.col("nd").cast("double") / F.sum("nd").over(Window.partitionBy())),
                10,
            ).cast("decimal(18,12)"),
        )
        .select("lang", "prior")
    )

    test_tok = (
        test.select("doc_id", F.col("lang").alias("true_lang"), F.explode(toks).alias("tok"))
        .join(F.broadcast(vocab), "tok", "left_semi")
        .groupBy("doc_id", "true_lang", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Model side is (lang × vocab)-bounded — broadcast it so scoring
    # is a map-side join over the (doc, token) stream, no fact shuffle.
    model = F.broadcast(
        totals.join(priors, "lang").crossJoin(vsize)
    )
    counts_r = counts.select(
        F.col("lang").alias("c_lang"), F.col("tok").alias("c_tok"), "cnt"
    )
    joined = (
        test_tok.crossJoin(model)
        .join(
            F.broadcast(counts_r),
            (F.col("c_lang") == F.col("lang")) & (F.col("c_tok") == F.col("tok")),
            "left",
        )
        .withColumn(
            "logp",
            F.round(
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                    / (F.col("total") + F.col("v"))
                ),
                10,
            ).cast("decimal(18,12)"),
        )
    )
    scored = joined.groupBy("doc_id", "true_lang", "lang", "prior").agg(
        (
            F.col("prior")
            + F.sum((F.col("tf") * F.col("logp")).cast("decimal(28,12)"))
        )
        .cast("decimal(28,12)")
        .alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("true_lang", F.col("lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection, matrix-free ([ext]): the
# ±1 projection matrix is DERIVED from md5(i|j) instead of stored or
# broadcast, so projecting 100 TB of vectors is a pure map with zero
# driver state and the identical matrix on every engine.  Each output
# coordinate is an ordered array fold (F.aggregate ≡ list_dot_product,
# exact ±x addends in index order), scaled by 1/√k.
_RP_K = 8

QRP_ORACLE = f"""
SELECT e.vec_id, g.j,
       ROUND(list_dot_product(
               CAST(e.embedding AS DOUBLE[]),
               list_transform(generate_series(1, len(e.embedding)),
                 i -> CASE WHEN substr(md5(CAST(i AS VARCHAR) || '|' ||
                                        CAST(g.j AS VARCHAR)), 1, 1) <= '7'
                           THEN 1.0 ELSE -1.0 END))
             / SQRT({_RP_K}.0), 6) AS y
FROM embeddings e
CROSS JOIN generate_series(0, {_RP_K - 1}) AS g(j)
WHERE e.embedding IS NOT NULL
ORDER BY e.vec_id, g.j
"""


@declare(
    "q_random_projection",
    oracle=QRP_ORACLE,
    description=f"matrix-free JL random projection to {_RP_K} dims — md5-derived ±1 signs, ordered-fold dot (similarity [ext])",
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL embeddings have no projection on either side (NULL-fuzz sweep)
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].filter(
        F.col("embedding").isNotNull()
    )
    rows = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(_RP_K - 1))).alias("j"),
    )
    signs = F.transform(
        F.sequence(F.lit(1), F.size("v")),
        lambda i: F.when(
            F.substring(
                F.md5(F.concat(i.cast("string"), F.lit("|"), F.col("j").cast("string"))),
                1,
                1,
            )
            <= "7",
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)),
    )
    return rows.select(
        "vec_id",
        "j",
        F.round(sim.dot(F.col("v"), signs) / math.sqrt(_RP_K), 6).alias("y"),
    ).orderBy("vec_id", "j")


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) set-operation estimates between customer-key
# sets ([ext] sketches): for each order priority p, compare p's
# distinct customer set against '5-LOW's — union cardinality from the
# kth-smallest md5 rank, Jaccard from the overlap fraction WITHIN the
# union's bottom-k (the standard KMV coincidence estimator), and the
# intersection as their product.  Exact truths ride along so each row
# is self-calibrating.  At 100 TB each side is one distinct pass and
# the per-group sketch comparison is k rows; the per-group ranking
# window partitions on the group key, never a global sort.
_KMV_K = 128

QKMVOV_ORACLE = f"""
WITH pk AS (
  SELECT DISTINCT o_orderpriority AS grp, o_custkey AS key FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
), side_b AS (
  SELECT key FROM pk WHERE grp = '5-LOW'
), flagged AS (
  SELECT grp, key, MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM (
    SELECT grp, key, 1 AS in_a, 0 AS in_b FROM pk WHERE grp <> '5-LOW'
    UNION ALL
    SELECT g.grp, b.key, 0 AS in_a, 1 AS in_b
    FROM (SELECT DISTINCT grp FROM pk WHERE grp <> '5-LOW') g, side_b b
  ) GROUP BY grp, key
), ranked AS (
  SELECT *, md5(CAST(key AS VARCHAR)) AS h,
         ROW_NUMBER() OVER (PARTITION BY grp
                            ORDER BY md5(CAST(key AS VARCHAR))) AS rn
  FROM flagged
), kth AS (
  SELECT grp, h AS kth_hash,
         (list_sum(list_transform(range(1, 14),
             i -> CAST(strpos('0123456789abcdef', substring(h, i, 1)) - 1 AS DOUBLE)
                  * (16.0 ^ (13 - i)))) + 0.5) / (16.0 ^ 13) AS uval
  FROM ranked WHERE rn = {_KMV_K}
), bottomk AS (
  SELECT grp, SUM(in_a * in_b) AS both_cnt
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY grp
), truths AS (
  SELECT grp, COUNT(*) AS true_union,
         SUM(in_a * in_b) AS true_intersection
  FROM flagged GROUP BY grp
)
SELECT k.grp, k.kth_hash,
       ROUND(({_KMV_K} - 1) / k.uval, 6) AS est_union,
       ROUND(CAST(b.both_cnt AS DOUBLE) / {_KMV_K}, 6) AS jaccard_est,
       ROUND(CAST(b.both_cnt AS DOUBLE) / {_KMV_K} * (({_KMV_K} - 1) / k.uval), 6)
         AS est_intersection,
       CAST(t.true_union AS BIGINT) AS true_union,
       CAST(t.true_intersection AS BIGINT) AS true_intersection
FROM kth k
JOIN bottomk b ON b.grp = k.grp
JOIN truths t ON t.grp = k.grp
ORDER BY k.grp
"""


@declare(
    "q_kmv_overlap",
    oracle=QKMVOV_ORACLE,
    description="per-priority KMV bottom-k union/Jaccard/intersection estimates vs the 5-LOW customer set, exact truths alongside (sketches [ext])",
)
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): a NULL key hashes to a
    # NULL md5 that sorts to opposite ends of the two engines' bottom-k
    orders = orders.filter(
        F.col("o_orderpriority").isNotNull() & F.col("o_custkey").isNotNull()
    )
    pk = orders.select(
        F.col("o_orderpriority").alias("grp"), F.col("o_custkey").alias("key")
    ).distinct()
    side_a = pk.filter(F.col("grp") != "5-LOW")
    side_b = pk.filter(F.col("grp") == "5-LOW").select("key")
    groups = side_a.select("grp").distinct()
    flagged = (
        side_a.select("grp", "key", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            groups.crossJoin(side_b).select(
                "grp", "key", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
            )
        )
        .groupBy("grp", "key")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    # Two-phase bottom-k: ranking every union member per grp would
    # sort the whole key set in #groups tasks.  Keep the k smallest
    # hashes per (grp, 64-way salt) first — survivors ≤ 64·k per grp
    # — then rank survivors per grp; the global bottom-k is inside
    # every salt's local bottom-k union, so the sketch is identical.
    hashed = flagged.withColumn("h", F.md5(F.col("key").cast("string")))
    w_local = Window.partitionBy("grp", "__salt").orderBy("h")
    pruned = (
        hashed.withColumn("__salt", F.pmod(F.xxhash64("key"), F.lit(64)))
        .withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= _KMV_K)
    )
    ranked = pruned.withColumn(
        "rn", F.row_number().over(Window.partitionBy("grp").orderBy("h"))
    )
    kth = ranked.filter(F.col("rn") == _KMV_K).select(
        "grp",
        F.col("h").alias("kth_hash"),
        (
            (F.conv(F.substring("h", 1, 13), 16, 10).cast("double") + F.lit(0.5))
            / F.lit(float(16**13))
        ).alias("uval"),
    )
    bottomk = (
        ranked.filter(F.col("rn") <= _KMV_K)
        .groupBy("grp")
        .agg(F.sum(F.col("in_a") * F.col("in_b")).alias("both_cnt"))
    )
    truths = flagged.groupBy("grp").agg(
        F.count(F.lit(1)).alias("true_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("true_intersection"),
    )
    return (
        kth.join(bottomk, "grp")
        .join(truths, "grp")
        .select(
            "grp",
            "kth_hash",
            F.round(F.lit(float(_KMV_K - 1)) / F.col("uval"), 6).alias("est_union"),
            F.round(F.col("both_cnt").cast("double") / _KMV_K, 6).alias("jaccard_est"),
            F.round(
                F.col("both_cnt").cast("double")
                / _KMV_K
                * (F.lit(float(_KMV_K - 1)) / F.col("uval")),
                6,
            ).alias("est_intersection"),
            F.col("true_union").cast("long").alias("true_union"),
            F.col("true_intersection").cast("long").alias("true_intersection"),
        )
        .orderBy("grp")
    )


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
# Theil-Sen robust trend of monthly revenue per nation ([ext] robust
# stats): the median of all pairwise slopes — up to 29.3% of the
# points can be arbitrarily corrupted before the estimate breaks,
# unlike the OLS slope (q_trend_slopes) a single bad month can drag
# anywhere.  Pair generation is per-nation over the MONTH-aggregated
# series (Θ(months²) per key — months, not rows, is the quadratic
# variable, so 100 TB of orders still yields 80·79/2 pairs per
# nation); the median is the LOWER order statistic (rank ⌈m/2⌉), not
# an interpolated midpoint, so the selected value is an exact double
# shared by both engines.
QTHEILSEN_ORACLE = """
WITH rev AS (
  SELECT c.c_nationkey AS nkey,
         CAST(EXTRACT(year FROM o.o_orderdate) * 12
              + EXTRACT(month FROM o.o_orderdate) AS BIGINT) AS m,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS r
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), slopes AS (
  SELECT a.nkey,
         CAST(b.r - a.r AS DOUBLE) / (b.m - a.m) AS slope
  FROM rev a JOIN rev b ON b.nkey = a.nkey AND b.m > a.m
), ranked AS (
  SELECT nkey, slope,
         ROW_NUMBER() OVER (PARTITION BY nkey ORDER BY slope) AS rn,
         COUNT(*) OVER (PARTITION BY nkey) AS m
  FROM slopes
)
SELECT n.n_name, CAST(r.m AS BIGINT) AS n_pairs,
       ROUND(r.slope, 6) AS ts_slope
FROM ranked r JOIN nation n ON n.n_nationkey = r.nkey
WHERE r.rn = (r.m + 1) // 2
ORDER BY n.n_name
"""


@declare(
    "q_theil_sen",
    oracle=QTHEILSEN_ORACLE,
    description="Theil-Sen robust slope of monthly revenue per nation — median of pairwise slopes, lower order statistic (robust stats [ext])",
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    rev = (
        t["orders"]
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nkey"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("m"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("r")
        )
    )
    a = rev.select(F.col("nkey"), F.col("m").alias("m1"), F.col("r").alias("r1"))
    b = rev.select(F.col("nkey"), F.col("m").alias("m2"), F.col("r").alias("r2"))
    slopes = (
        a.join(b, "nkey")
        .filter(F.col("m2") > F.col("m1"))
        .select(
            "nkey",
            (
                (F.col("r2") - F.col("r1")).cast("double")
                / (F.col("m2") - F.col("m1"))
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("nkey").orderBy("slope")
    wc = Window.partitionBy("nkey")
    ranked = slopes.withColumn("rn", F.row_number().over(w)).withColumn(
        "m", F.count(F.lit(1)).over(wc)
    )
    med = ranked.filter(F.col("rn") == F.floor((F.col("m") + 1) / 2))
    return (
        med.join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("nkey"))
        .select(
            "n_name",
            F.col("m").cast("long").alias("n_pairs"),
            F.round("slope", 6).alias("ts_slope"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test with tie correction ([ext] stats — the
# nonparametric sibling of q_ab_welch_ttest, and the hypothesis-test
# form of the midrank machinery q_auc_nchars_en uses for AUC): doc
# length of 'en' vs each other language.  Rank sums come from grouped
# value counts (never a per-row rank shuffle): for each distinct
# value, avg-midrank · count is assembled in DOUBLED integer lanes
# (2·cum_before + t + 1), DECIMAL(38,0)/HUGEINT so web-scale N can't
# wrap, and the tie-corrected z is one double expression at the end.
QMWU_ORACLE = """
WITH langs AS (
  SELECT DISTINCT lang AS grp FROM documents WHERE lang <> 'en'
), s AS (
  SELECT l.grp, d.n_chars AS v, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents d
  JOIN langs l ON d.lang IN ('en', l.grp)
), g AS (
  SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS t, CAST(SUM(y) AS BIGINT) AS t1
  FROM s GROUP BY grp, v
), c AS (
  SELECT grp, v, t, t1,
         CAST(COALESCE(SUM(t) OVER (PARTITION BY grp ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM g
), agg AS (
  SELECT grp,
         SUM(CAST(t1 AS HUGEINT) * (2 * cum_before + t + 1)) AS r1_2,
         CAST(SUM(t1) AS BIGINT) AS n1,
         CAST(SUM(t) - SUM(t1) AS BIGINT) AS n2,
         CAST(SUM(t) AS BIGINT) AS nn,
         SUM(CAST(t AS HUGEINT) * t * t - t) AS tie
  FROM c GROUP BY grp
)
SELECT grp, n1, n2,
       ROUND(CAST(r1_2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2, 6) AS u1,
       ROUND(CAST(r1_2 - CAST(n1 AS HUGEINT) * (n1 + 1) - CAST(n1 AS HUGEINT) * n2
                  AS DOUBLE)
             / (2 * SQRT(CAST(n1 AS DOUBLE) * n2 / 12
                         * ((nn + 1) - CAST(tie AS DOUBLE)
                            / (CAST(nn AS DOUBLE) * (nn - 1))))), 6) AS z
FROM agg
ORDER BY grp
"""


@declare(
    "q_mannwhitney_u",
    oracle=QMWU_ORACLE,
    description="Mann-Whitney U with tie-corrected z: en doc length vs each other language — grouped-midrank integer lanes, no per-row rank shuffle (stats [ext])",
)
def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    langs = (
        docs.filter(F.col("lang") != "en").select(F.col("lang").alias("grp")).distinct()
    )
    s = (
        docs.join(
            F.broadcast(langs),
            (F.col("lang") == "en") | (F.col("lang") == F.col("grp")),
        )
        .select(
            "grp",
            F.col("n_chars").alias("v"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
    )
    g = s.groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("y").cast("long").alias("t1"),
    )
    w = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = g.withColumn(
        "cum_before", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long")
    )
    agg = c.groupBy("grp").agg(
        F.sum(
            F.col("t1").cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("t") + 1)
        )
        .cast("decimal(38,0)")
        .alias("r1_2"),
        F.sum("t1").cast("long").alias("n1"),
        (F.sum("t") - F.sum("t1")).cast("long").alias("n2"),
        F.sum("t").cast("long").alias("nn"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
        )
        .cast("decimal(38,0)")
        .alias("tie"),
    )
    u1 = (
        F.col("r1_2") - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
    ).cast("double") / 2
    z_num = (
        F.col("r1_2")
        - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
        - F.col("n1").cast("decimal(38,0)") * F.col("n2")
    ).cast("double")
    z_den = 2 * F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2")
        / 12
        * (
            (F.col("nn") + 1)
            - F.col("tie").cast("double")
            / (F.col("nn").cast("double") * (F.col("nn") - 1))
        )
    )
    return agg.select(
        "grp",
        "n1",
        "n2",
        F.round(u1, 6).alias("u1"),
        F.round(z_num / z_den, 6).alias("z"),
    ).orderBy("grp")
