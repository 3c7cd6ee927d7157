"""Statistical-model declared queries: regression and classification
steps, model evaluation (AUC, lift, calibration, confusion), causal
readouts (CUPED, diff-in-diff, propensity), robust estimators and
distribution fits.

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.operators.relational import exact_quantiles_bucketed
from jibaro_spark.queries.registry import declare, load_tables


# ---------------------------------------------------------------------------
# Winsorized robust statistics: clip prices to the exact [p05, p95]
# per-group quantiles (histogram-refinement operator — no full sort),
# then decimal-exact means.  Composition proves the quantile operator
# plugs into downstream relational work (the robust-stats pipeline
# every data-quality report runs).
QWINS_ORACLE = """
WITH q AS (
  SELECT l_returnflag,
         ROUND(quantile_cont(l_extendedprice, 0.05), 6) AS p05,
         ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN l.l_extendedprice < q.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(SUM(CASE WHEN l.l_extendedprice > q.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
       ROUND(CAST(SUM(CAST(LEAST(GREATEST(l.l_extendedprice, q.p05), q.p95)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS winsorized_mean
FROM lineitem l JOIN q USING (l_returnflag)
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


@declare(
    "q_winsorize_stats",
    oracle=QWINS_ORACLE,
    description="winsorized means via exact distributed quantiles + clip (robust stats [ext])",
)
def q_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NOTE (r12): a q_percentile_prices-style input spread here
    # ABAB-measured WORSE (3.92 vs 3.25) — unlike that query, the
    # spread exchange would feed the quantile operator's separate
    # construction JOBS plus the clipped re-join's scan, and shuffle
    # output is not reused across jobs, so the 6M-row exchange re-runs
    # per pass.  The unspread pruned re-scan is the cheaper form.
    q = exact_quantiles_bucketed(
        li.select("l_returnflag", "l_extendedprice"),
        ["l_returnflag"],
        "l_extendedprice",
        [(0.05, "p05"), (0.95, "p95")],
        materialize=False,
    ).select(
        "l_returnflag",
        F.round("p05", 6).alias("p05"),
        F.round("p95", 6).alias("p95"),
    )
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
    )
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("p05"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_clip_lo"),
            F.sum(
                F.when(F.col("l_extendedprice") > F.col("p95"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_clip_hi"),
            F.round(
                F.sum(clipped.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("winsorized_mean"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# One distributed training step of the quality classifier: full-batch
# logistic-regression gradient at the production weights, labels =
# (lang = 'en').  The scale shape IS the point: weights broadcast as
# literals, per-row error map-side, gradient = dim-bounded decimal
# sums (map-side partial agg) — one scan, no shuffle beyond the
# aggregate, at any corpus size.  Determinism recipe (as
# q_quality_model_score): z rounded 6dp before the sigmoid, p rounded
# 6dp after, per-row gradient terms rounded 8dp then DECIMAL-summed —
# bit-identical across engines regardless of row order.  The k-step
# trainer (operators/training.py logreg_train) is pinned against a
# numpy reference in pytest.
_LR_W = (-1.5, 2.0, 1.2, -3.0, 2.0)  # bias, alpha, uniq, punct, n_tok/1000
_LR_RATE = 0.5
QLRSTEP_ORACLE = f"""
WITH f AS (
  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / CAST(LENGTH(text) AS DOUBLE) AS alpha_ratio,
         CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
           / CAST(LENGTH(text) AS DOUBLE) AS punct_ratio,
         CAST(len(list_distinct({{toks}})) AS DOUBLE) / CAST(len({{toks}}) AS DOUBLE)
           AS uniq_token_ratio,
         CAST(len({{toks}}) AS DOUBLE) / 1000.0 AS ntk
  FROM documents
), z AS (
  SELECT y, alpha_ratio, punct_ratio, uniq_token_ratio, ntk,
         ROUND({_LR_W[0]} + {_LR_W[1]} * alpha_ratio + {_LR_W[2]} * uniq_token_ratio
               + {_LR_W[3]} * punct_ratio + {_LR_W[4]} * ntk, 6) AS z
  FROM f
), e AS (
  SELECT y, alpha_ratio, punct_ratio, uniq_token_ratio, ntk,
         ROUND(1.0 / (1.0 + EXP(-z)), 6) - y AS err
  FROM z
), g AS (
  -- floor(x*1e8 + 0.5)/1e8, not ROUND(x, 8): tie-deterministic across
  -- engines (same IEEE ops both sides; ROUND half-boundary behavior
  -- differs by 1ulp between Spark and DuckDB — bigval class, r11)
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(floor(err * 1e8 + 0.5)/1e8 AS DECIMAL(28,10))) AS DOUBLE) AS g_bias,
         CAST(SUM(CAST(floor(err * alpha_ratio * 1e8 + 0.5)/1e8 AS DECIMAL(28,10))) AS DOUBLE) AS g_alpha,
         CAST(SUM(CAST(floor(err * uniq_token_ratio * 1e8 + 0.5)/1e8 AS DECIMAL(28,10))) AS DOUBLE) AS g_uniq,
         CAST(SUM(CAST(floor(err * punct_ratio * 1e8 + 0.5)/1e8 AS DECIMAL(28,10))) AS DOUBLE) AS g_punct,
         CAST(SUM(CAST(floor(err * ntk * 1e8 + 0.5)/1e8 AS DECIMAL(28,10))) AS DOUBLE) AS g_ntk
  FROM e
)
SELECT n_rows, g_bias, g_alpha, g_uniq, g_punct, g_ntk,
       ROUND({_LR_W[0]} - {_LR_RATE} * g_bias / n_rows, 6) AS w_bias,
       ROUND({_LR_W[1]} - {_LR_RATE} * g_alpha / n_rows, 6) AS w_alpha,
       ROUND({_LR_W[2]} - {_LR_RATE} * g_uniq / n_rows, 6) AS w_uniq,
       ROUND({_LR_W[3]} - {_LR_RATE} * g_punct / n_rows, 6) AS w_punct,
       ROUND({_LR_W[4]} - {_LR_RATE} * g_ntk / n_rows, 6) AS w_ntk
FROM g
""".replace("{toks}", "string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')")


@declare(
    "q_logreg_step",
    oracle=QLRSTEP_ORACLE,
    description="one full-batch logistic-regression training step of the quality classifier — broadcast weights, decimal-summed dim-bounded gradient, updated weights (training [ext])",
)
def q_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = tokens(F.col("text"))
    # try_divide: empty/whitespace docs yield NULL ratios (matching the
    # oracle's SQL x/0 → NULL), which NULL the row's z/p and drop it
    # from every gradient sum on both sides — never an ANSI crash
    f = docs.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.try_divide(
            F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double"),
            F.length("text").cast("double"),
        ).alias("alpha_ratio"),
        F.try_divide(
            F.length(F.regexp_replace("text", "[^.,;:!?]", "")).cast("double"),
            F.length("text").cast("double"),
        ).alias("punct_ratio"),
        F.try_divide(
            F.size(F.array_distinct(toks)).cast("double"),
            F.size(toks).cast("double"),
        ).alias("uniq_token_ratio"),
        (F.size(toks).cast("double") / F.lit(1000.0)).alias("ntk"),
    )
    w = _LR_W
    z = F.round(
        F.lit(w[0])
        + F.lit(w[1]) * F.col("alpha_ratio")
        + F.lit(w[2]) * F.col("uniq_token_ratio")
        + F.lit(w[3]) * F.col("punct_ratio")
        + F.lit(w[4]) * F.col("ntk"),
        6,
    )
    e = f.select(
        "alpha_ratio",
        "punct_ratio",
        "uniq_token_ratio",
        "ntk",
        (
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6) - F.col("y")
        ).alias("err"),
    )

    def dsum(expr):
        # tie-deterministic 8dp round (bigval class, r11): ROUND(x, 8)
        # disagrees between engines at half boundaries (Spark rounds
        # the double's exact decimal expansion; DuckDB's float round
        # is off by 1ulp there) — 8 fixture rows diverged by 1e-8 and
        # the giant-doc rows pushed two gradient sums onto a 6dp
        # boundary.  floor(x·1e8 + 0.5)/1e8 is the same IEEE double
        # arithmetic on both sides (the q_holt_winters contract).
        r8 = F.floor(expr * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)
        return F.sum(r8.cast("decimal(28,10)")).cast("double")

    g = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        dsum(F.col("err")).alias("g_bias"),
        dsum(F.col("err") * F.col("alpha_ratio")).alias("g_alpha"),
        dsum(F.col("err") * F.col("uniq_token_ratio")).alias("g_uniq"),
        dsum(F.col("err") * F.col("punct_ratio")).alias("g_punct"),
        dsum(F.col("err") * F.col("ntk")).alias("g_ntk"),
    )
    lr = F.lit(_LR_RATE)
    n = F.col("n_rows").cast("double")
    return g.select(
        "n_rows",
        "g_bias",
        "g_alpha",
        "g_uniq",
        "g_punct",
        "g_ntk",
        F.round(F.lit(w[0]) - lr * F.col("g_bias") / n, 6).alias("w_bias"),
        F.round(F.lit(w[1]) - lr * F.col("g_alpha") / n, 6).alias("w_alpha"),
        F.round(F.lit(w[2]) - lr * F.col("g_uniq") / n, 6).alias("w_uniq"),
        F.round(F.lit(w[3]) - lr * F.col("g_punct") / n, 6).alias("w_punct"),
        F.round(F.lit(w[4]) - lr * F.col("g_ntk") / n, 6).alias("w_ntk"),
    )


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
# Weight-of-evidence / information-value binning: customers bucketed
# by fixed-width account-balance bins, target = "placed at least one
# URGENT order".  WOE = ln((good_i/G)/(bad_i/B)); IV contribution =
# (good_i/G - bad_i/B) * WOE.  Bins with a zero cell are excluded
# (standard practice; keeps ln finite) — deterministically, as part of
# the definition.  No global window: bin totals are a groupBy, overall
# totals a broadcast single row.
QWOE_ORACLE = """
WITH lab AS (
  SELECT c.c_custkey, CAST(FLOOR(c.c_acctbal / 1000.0) AS BIGINT) AS bin,
         COALESCE(MAX(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END), 0)
           AS label
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), b AS (
  SELECT bin, SUM(label) AS good, COUNT(*) - SUM(label) AS bad
  FROM lab GROUP BY 1
), t AS (SELECT SUM(good) AS g, SUM(bad) AS bd FROM b)
SELECT bin, CAST(good AS BIGINT) AS good, CAST(bad AS BIGINT) AS bad,
       ROUND(LN((CAST(good AS DOUBLE) / g) / (CAST(bad AS DOUBLE) / bd)), 6) AS woe,
       ROUND((CAST(good AS DOUBLE) / g - CAST(bad AS DOUBLE) / bd)
             * LN((CAST(good AS DOUBLE) / g) / (CAST(bad AS DOUBLE) / bd)), 6)
         AS iv_contrib
FROM b CROSS JOIN t
WHERE good > 0 AND bad > 0
ORDER BY bin
"""


@declare(
    "q_woe_bins",
    oracle=QWOE_ORACLE,
    description="weight-of-evidence / information-value binning of customer balances against an urgent-order target — credit-scoring feature encoding (featureeng [ext])",
)
def q_woe_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    lab = (
        t["customer"]
        .join(
            t["orders"].select(
                F.col("o_custkey"),
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("u"),
            ),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .groupBy(
            "c_custkey",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bin"),
        )
        .agg(F.coalesce(F.max("u"), F.lit(0)).alias("label"))
    )
    b = lab.groupBy("bin").agg(
        F.sum("label").alias("good"),
        (F.count(F.lit(1)) - F.sum("label")).alias("bad"),
    )
    tot = b.agg(F.sum("good").alias("g"), F.sum("bad").alias("bd"))
    gr = F.col("good").cast("double") / F.col("g")
    br = F.col("bad").cast("double") / F.col("bd")
    return (
        b.crossJoin(F.broadcast(tot))
        .filter((F.col("good") > 0) & (F.col("bad") > 0))
        .select(
            "bin",
            F.col("good").cast("long").alias("good"),
            F.col("bad").cast("long").alias("bad"),
            F.round(F.log(gr / br), 6).alias("woe"),
            F.round((gr - br) * F.log(gr / br), 6).alias("iv_contrib"),
        )
        .orderBy("bin")
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
# Hill tail-index estimator ([ext] stats): α̂ = k / Σ ln(x_i / x_(k+1))
# over the k largest order prices.  The top-(k+1) is Spark's
# TakeOrderedAndProject (per-partition top-k, bounded merge — no
# global sort), the threshold joins back as a broadcast 1-row agg,
# and the ln terms are per-row rounded then DECIMAL-summed (the
# entropy queries' order-free float discipline).  Ties at the cut are
# harmless by construction: a tied row's term is ln(1) = 0.
QHILL_ORACLE = """
WITH top AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v
  FROM orders ORDER BY v DESC LIMIT 501
), thr AS (
  SELECT MIN(v) AS xk1 FROM top
)
SELECT CAST(500 AS BIGINT) AS k,
       ROUND(CAST(MIN(thr.xk1) AS DOUBLE), 2) AS x_threshold,
       ROUND(500.0 / CAST(SUM(CAST(ROUND(ln(CAST(top.v AS DOUBLE)
                                            / CAST(thr.xk1 AS DOUBLE)), 10)
                                   AS DECIMAL(18,10))) AS DOUBLE), 6) AS alpha
FROM top, thr
"""


@declare(
    "q_hill_tail_index",
    oracle=QHILL_ORACLE,
    description="Hill tail-index over the top-500 order prices: TakeOrderedAndProject top-k, broadcast threshold, decimal-summed ln terms (stats [ext])",
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    top = (
        o.select(F.col("o_totalprice").cast("decimal(18,2)").alias("v"))
        .orderBy(F.col("v").desc())
        .limit(501)
    )
    thr = top.agg(F.min("v").alias("xk1"))
    term = F.round(
        F.log(F.col("v").cast("double") / F.col("xk1").cast("double")), 10
    ).cast("decimal(18,10)")
    return top.crossJoin(F.broadcast(thr)).agg(
        F.lit(500).cast("bigint").alias("k"),
        F.round(F.min("xk1").cast("double"), 2).alias("x_threshold"),
        F.round(F.lit(500.0) / F.sum(term).cast("double"), 6).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# Propensity-score matching ([ext] causal — the matching member of the
# causal family next to DiD and CUPED).  Treated = BUILDING-segment
# customers; controls = everyone else; score = exact-decimal account
# balance; outcome = decimal total order spend (0 for orderless
# customers).  Matching is nation-BLOCKED 1-NN WITH replacement: in
# balance order the nearest control is the nearest preceding or
# following control row, so candidate generation is two
# last/first-ignore-nulls windows per nation — O(n log n) per block,
# never a treated × control pair join.  Distances compare in decimal
# (exact); prev wins ties.  ATT per nation = decimal-summed outcome
# gap / count, double at the boundary.
QPSM_ORACLE = """
WITH spend AS (
  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS y
  FROM orders GROUP BY o_custkey
), cust AS (
  SELECT c.c_custkey, c.c_nationkey,
         CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated,
         COALESCE(s.y, CAST(0 AS DECIMAL(28,2))) AS y
  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
), w AS (
  SELECT *,
         LAST_VALUE(CASE WHEN treated = 0 THEN bal END IGNORE NULLS)
           OVER (PARTITION BY c_nationkey ORDER BY bal, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pbal,
         LAST_VALUE(CASE WHEN treated = 0 THEN y END IGNORE NULLS)
           OVER (PARTITION BY c_nationkey ORDER BY bal, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS py,
         FIRST_VALUE(CASE WHEN treated = 0 THEN bal END IGNORE NULLS)
           OVER (PARTITION BY c_nationkey ORDER BY bal, c_custkey
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nbal,
         FIRST_VALUE(CASE WHEN treated = 0 THEN y END IGNORE NULLS)
           OVER (PARTITION BY c_nationkey ORDER BY bal, c_custkey
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ny
  FROM cust
), matched AS (
  SELECT c_nationkey, bal, y,
         CASE WHEN pbal IS NULL AND nbal IS NULL THEN NULL
              WHEN nbal IS NULL THEN py
              WHEN pbal IS NULL THEN ny
              WHEN bal - pbal <= nbal - bal THEN py ELSE ny END AS my,
         CASE WHEN pbal IS NULL AND nbal IS NULL THEN NULL
              WHEN nbal IS NULL THEN bal - pbal
              WHEN pbal IS NULL THEN nbal - bal
              WHEN bal - pbal <= nbal - bal THEN bal - pbal
              ELSE nbal - bal END AS mdist
  FROM w WHERE treated = 1
)
SELECT n.n_name,
       CAST(COUNT(my) AS BIGINT) AS n_matched,
       ROUND(CAST(SUM(y - my) AS DOUBLE) / COUNT(my), 6) AS att,
       ROUND(CAST(SUM(mdist) AS DOUBLE) / COUNT(my), 6) AS avg_match_dist
FROM matched m JOIN nation n ON m.c_nationkey = n.n_nationkey
WHERE my IS NOT NULL
GROUP BY n.n_name
ORDER BY n.n_name
"""


@declare(
    "q_propensity_match",
    oracle=QPSM_ORACLE,
    description="nation-blocked 1-NN propensity matching on exact-decimal balance (with replacement, adjacency windows — no pair join) and per-nation ATT (causal [ext])",
)
def q_propensity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders", "nation")
    spend = t["orders"].groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("y")
    )
    cust = (
        t["customer"]
        .join(spend, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey",
            "c_nationkey",
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias(
                "treated"
            ),
            F.coalesce(F.col("y"), F.lit(0).cast("decimal(28,2)")).alias("y"),
        )
    )
    order = Window.partitionBy("c_nationkey").orderBy("bal", "c_custkey")
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    nxt = order.rowsBetween(1, Window.unboundedFollowing)
    ctrl_bal = F.when(F.col("treated") == 0, F.col("bal"))
    ctrl_y = F.when(F.col("treated") == 0, F.col("y"))
    w = cust.select(
        "c_nationkey",
        "bal",
        "y",
        "treated",
        F.last(ctrl_bal, ignorenulls=True).over(prev).alias("pbal"),
        F.last(ctrl_y, ignorenulls=True).over(prev).alias("py"),
        F.first(ctrl_bal, ignorenulls=True).over(nxt).alias("nbal"),
        F.first(ctrl_y, ignorenulls=True).over(nxt).alias("ny"),
    ).filter(F.col("treated") == 1)
    take_prev = F.col("nbal").isNull() | (
        F.col("pbal").isNotNull()
        & (F.col("bal") - F.col("pbal") <= F.col("nbal") - F.col("bal"))
    )
    matched = w.select(
        "c_nationkey",
        "y",
        F.when(F.col("pbal").isNull() & F.col("nbal").isNull(), F.lit(None))
        .when(take_prev, F.col("py"))
        .otherwise(F.col("ny"))
        .alias("my"),
        F.when(F.col("pbal").isNull() & F.col("nbal").isNull(), F.lit(None))
        .when(take_prev, F.col("bal") - F.col("pbal"))
        .otherwise(F.col("nbal") - F.col("bal"))
        .alias("mdist"),
    ).filter(F.col("my").isNotNull())
    return (
        matched.join(
            F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count("my").cast("long").alias("n_matched"),
            F.round(
                F.sum(F.col("y") - F.col("my")).cast("double") / F.count("my"), 6
            ).alias("att"),
            F.round(F.sum("mdist").cast("double") / F.count("my"), 6).alias(
                "avg_match_dist"
            ),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Winsorized and trimmed means ([ext] robust stats — the clamp-vs-drop
# pair next to the MAD screen): per return flag, the 10th/90th
# percentile thresholds come from the distinct-price ECDF (counts
# collapse first, type-1 quantile by integer rank comparison — the KS
# machinery's shape), values clamp (winsorize) or drop (trim) against
# the exact decimal thresholds, and both means are decimal-sum /
# count in double.  No windows over line items — only over distinct
# prices per flag.
QWINSOR_ORACLE = """
WITH d AS (
  SELECT l_returnflag AS flag, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1, 2
), e AS (
  SELECT flag, v, c,
         SUM(c) OVER (PARTITION BY flag ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY flag) AS n
  FROM d
), th AS (
  SELECT flag,
         MIN(CASE WHEN cum * 10 >= n THEN v END) AS lo,
         MIN(CASE WHEN cum * 10 >= n * 9 THEN v END) AS hi,
         CAST(MAX(n) AS BIGINT) AS n
  FROM e GROUP BY flag
), agg AS (
  SELECT d.flag, t.lo, t.hi, t.n,
         SUM(d.c * CASE WHEN d.v < t.lo THEN t.lo
                        WHEN d.v > t.hi THEN t.hi
                        ELSE d.v END) AS wsum,
         SUM(CASE WHEN d.v >= t.lo AND d.v <= t.hi THEN d.c ELSE 0 END) AS tn,
         SUM(CASE WHEN d.v >= t.lo AND d.v <= t.hi THEN d.c * d.v END) AS tsum
  FROM d JOIN th t ON t.flag = d.flag
  GROUP BY 1, 2, 3, 4
)
SELECT flag,
       CAST(lo AS DOUBLE) AS p10,
       CAST(hi AS DOUBLE) AS p90,
       ROUND(CAST(wsum AS DOUBLE) / n, 6) AS winsorized_mean,
       ROUND(CAST(tsum AS DOUBLE) / tn, 6) AS trimmed_mean,
       CAST(tn AS BIGINT) AS n_kept
FROM agg
ORDER BY flag
"""


@declare(
    "q_winsorized_stats",
    oracle=QWINSOR_ORACLE,
    description="winsorized (clamp) and trimmed (drop) means per return flag with type-1 decile thresholds from the distinct-price ECDF — counts-first, decimal-exact (robust stats [ext])",
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): the ECDF axis must be
    # defined — a NULL price sorts to opposite ends of the cum windows
    li = li.filter(
        F.col("l_returnflag").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    # project + hash-spread before the distinct-(flag, price) count
    # agg (r12 — the moment-pass treatment; the partials otherwise run
    # on the single-row-group scan's ONE core).  A flag-keyed exchange
    # for the ECDF windows was ALSO tried and ABAB-measured worse (see
    # the NOTE below) — only the spread is applied.
    from jibaro_spark.operators.util import ensure_parallelism

    li = ensure_parallelism(
        li.select("l_returnflag", "l_extendedprice"), by="l_extendedprice"
    )
    d = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # NOTE (r12): a flag-keyed dense_exchange here ABAB-measured WORSE
    # (+0.1-0.4 — 3 distinct flags buy ≤3 tasks for a real extra
    # shuffle); the input spread above is the win (q_weighted_median
    # precedent, same table/shape).
    cum_w = (
        Window.partitionBy("flag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flag_w = Window.partitionBy("flag")
    e = d.select(
        "flag",
        "v",
        "c",
        F.sum("c").over(cum_w).alias("cum"),
        F.sum("c").over(flag_w).alias("n"),
    )
    th = e.groupBy("flag").agg(
        F.min(F.when(F.col("cum") * 10 >= F.col("n"), F.col("v"))).alias("lo"),
        F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("v"))).alias("hi"),
        F.max("n").cast("long").alias("n"),
    )
    joined = d.join(th, "flag")
    wv = (
        F.when(F.col("v") < F.col("lo"), F.col("lo"))
        .when(F.col("v") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("v"))
    )
    kept = (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    agg = joined.groupBy("flag", "lo", "hi", "n").agg(
        F.sum(F.col("c") * wv).alias("wsum"),
        F.sum(F.when(kept, F.col("c")).otherwise(0)).alias("tn"),
        F.sum(F.when(kept, F.col("c") * F.col("v"))).alias("tsum"),
    )
    return agg.select(
        "flag",
        F.col("lo").cast("double").alias("p10"),
        F.col("hi").cast("double").alias("p90"),
        F.round(F.col("wsum").cast("double") / F.col("n"), 6).alias(
            "winsorized_mean"
        ),
        F.round(F.col("tsum").cast("double") / F.col("tn"), 6).alias(
            "trimmed_mean"
        ),
        F.col("tn").cast("long").alias("n_kept"),
    ).orderBy("flag")


# ---------------------------------------------------------------------------
# Decision-stump split finding ([ext] in-engine ML training — THE
# distributed-GBDT primitive: per group, the price threshold that best
# separates high-priority orders by weighted Gini impurity).  Counts
# collapse to distinct (group, price) rows FIRST (the KS /
# weighted-median shape: the cumulative window runs over the
# value-domain-bounded distinct table, never the order volume); class
# counts are exact integers, the Gini score is one double expression
# over them ROUNDED TO 10 before the argmin rank, and ties break on
# the smaller threshold — engine-invariant split choice.
QGINI_ORACLE = """
WITH d AS (
  SELECT o_orderstatus AS grp,
         CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS npos
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1, 2
), c AS (
  SELECT grp, v,
         SUM(n) OVER (PARTITION BY grp ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
         SUM(npos) OVER (PARTITION BY grp ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl,
         SUM(n) OVER (PARTITION BY grp) AS nt,
         SUM(npos) OVER (PARTITION BY grp) AS pt
  FROM d
), scored AS (
  SELECT grp, v, nl, pl, nt, pt,
         ROUND(
           (CAST(nl AS DOUBLE) / nt)
             * (1 - (CAST(pl AS DOUBLE) / nl) * (CAST(pl AS DOUBLE) / nl)
                  - (CAST(nl - pl AS DOUBLE) / nl) * (CAST(nl - pl AS DOUBLE) / nl))
           + (CAST(nt - nl AS DOUBLE) / nt)
             * (1 - (CAST(pt - pl AS DOUBLE) / (nt - nl)) * (CAST(pt - pl AS DOUBLE) / (nt - nl))
                  - (CAST((nt - nl) - (pt - pl) AS DOUBLE) / (nt - nl))
                    * (CAST((nt - nl) - (pt - pl) AS DOUBLE) / (nt - nl))),
           10) AS wg
  FROM c WHERE nl < nt
), best AS (
  SELECT grp, v, nl, pl, wg,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY wg, v) AS rk,
         MAX(nt) OVER (PARTITION BY grp) AS nt,
         MAX(pt) OVER (PARTITION BY grp) AS pt
  FROM scored
)
SELECT grp,
       CAST(v AS DOUBLE) AS best_threshold,
       CAST(nl AS BIGINT) AS left_n,
       CAST(pl AS BIGINT) AS left_pos,
       ROUND((1 - (CAST(pt AS DOUBLE) / nt) * (CAST(pt AS DOUBLE) / nt)
                - (CAST(nt - pt AS DOUBLE) / nt) * (CAST(nt - pt AS DOUBLE) / nt))
             - wg, 6) AS gini_gain
FROM best WHERE rk = 1
ORDER BY grp
"""


@declare(
    "q_gini_split",
    oracle=QGINI_ORACLE,
    description="decision-stump split finding per order status: best price threshold by weighted Gini over distinct-value class counts — the distributed-GBDT primitive, counts-first (ML training [ext])",
)
def q_gini_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): a NULL threshold value has
    # no position on the split axis (and sorts opposite ways in the
    # Spark vs SQL cumulative windows); a NULL group is not a stump
    o = o.filter(
        F.col("o_orderstatus").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    d = o.groupBy(
        F.col("o_orderstatus").alias("grp"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
        )
        .cast("long")
        .alias("npos"),
    )
    cum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("grp")
    c = d.select(
        "grp",
        "v",
        F.sum("n").over(cum).alias("nl"),
        F.sum("npos").over(cum).alias("pl"),
        F.sum("n").over(tot).alias("nt"),
        F.sum("npos").over(tot).alias("pt"),
    )
    nl, pl = F.col("nl").cast("double"), F.col("pl").cast("double")
    nt, pt = F.col("nt").cast("double"), F.col("pt").cast("double")
    nr, pr = nt - nl, pt - pl
    wg = F.round(
        (nl / nt) * (1 - (pl / nl) * (pl / nl) - ((nl - pl) / nl) * ((nl - pl) / nl))
        + (nr / nt) * (1 - (pr / nr) * (pr / nr) - ((nr - pr) / nr) * ((nr - pr) / nr)),
        10,
    )
    scored = c.filter(F.col("nl") < F.col("nt")).withColumn("wg", wg)
    rk = Window.partitionBy("grp").orderBy("wg", "v")
    best = scored.withColumn("rk", F.row_number().over(rk)).filter(F.col("rk") == 1)
    base = 1 - (pt / nt) * (pt / nt) - ((nt - pt) / nt) * ((nt - pt) / nt)
    return best.select(
        "grp",
        F.col("v").cast("double").alias("best_threshold"),
        F.col("nl").cast("long").alias("left_n"),
        F.col("pl").cast("long").alias("left_pos"),
        F.round(base - F.col("wg"), 6).alias("gini_gain"),
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# Two-feature OLS per nation ([ext] in-engine ML — multivariate
# regression from sufficient statistics, the closed-form sibling of
# the gradient logreg trainer: spend ~ acctbal + n_orders).  All
# sufficient statistics (Σx1, Σx2, Σy, Σx1², Σx2², Σx1x2, Σx1y, Σx2y,
# Σy²) accumulate as EXACT decimals in one grouped scan; the centered
# 2×2 normal-equation solve is a handful of double expressions over
# those exact sums — no iteration, no shuffle beyond the two keyed
# aggs, deterministic in any engine.
QOLS2_ORACLE = """
WITH per_cust AS (
  SELECT c.c_nationkey AS nk,
         CAST(c.c_acctbal AS DECIMAL(18,2)) AS x1,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS x2,
         CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DECIMAL(28,2)) AS y
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey IS NOT NULL AND c.c_acctbal IS NOT NULL
  GROUP BY c.c_nationkey, c.c_custkey, c.c_acctbal
), s AS (
  SELECT nk, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x2) AS DOUBLE) AS s2,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,4))) AS DOUBLE) AS s11,
         CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS s22,
         CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,2))) AS DOUBLE) AS s12,
         CAST(SUM(CAST(x1 * y AS DECIMAL(38,4))) AS DOUBLE) AS s1y,
         CAST(SUM(CAST(x2 * y AS DECIMAL(38,2))) AS DOUBLE) AS s2y,
         CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy
  FROM per_cust GROUP BY nk
), m AS (
  SELECT nk, n,
         s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
         s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y,
         s2y - s2 * sy / n AS c2y, syy - sy * sy / n AS cyy,
         s1 / n AS m1, s2 / n AS m2, sy / n AS my
  FROM s
)
SELECT nk AS nationkey, n,
       ROUND((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12), 6) AS beta_acctbal,
       ROUND((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12), 6) AS beta_orders,
       ROUND(my - (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * m1
                - (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * m2, 6)
         AS intercept,
       ROUND(((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * c1y
              + (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * c2y) / cyy, 6)
         AS r2
FROM m
WHERE c11 * c22 - c12 * c12 <> 0 AND cyy <> 0
ORDER BY nationkey
"""


@declare(
    "q_ols_two_feature",
    oracle=QOLS2_ORACLE,
    description="per-nation two-feature OLS (spend ~ acctbal + n_orders) solved in closed form from exact decimal sufficient statistics — no iteration, two keyed aggs (ML training [ext])",
)
def q_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "customer", "orders")
    per_cust = (
        # NULL contract (relational fuzz sweep): the regression needs a
        # defined group and regressor; degenerate groups (zero design
        # variance — e.g. a single-customer nation) are filtered below
        # rather than divided by det=0 under ANSI
        t["customer"]
        .filter(F.col("c_nationkey").isNotNull() & F.col("c_acctbal").isNotNull())
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_nationkey", "c_custkey", "c_acctbal")
        .agg(
            F.count("o_orderkey").cast("long").alias("x2"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.lit(0)
            )
            .cast("decimal(28,2)")
            .alias("y"),
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("x1"),
            "x2",
            "y",
        )
    )
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    s = per_cust.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x1 * x1).cast("decimal(38,4)")).cast("double").alias("s11"),
        F.sum((x2 * x2).cast("decimal(38,0)")).cast("double").alias("s22"),
        F.sum((x1 * x2).cast("decimal(38,2)")).cast("double").alias("s12"),
        F.sum((x1 * y).cast("decimal(38,4)")).cast("double").alias("s1y"),
        F.sum((x2 * y).cast("decimal(38,2)")).cast("double").alias("s2y"),
        F.sum((y * y).cast("decimal(38,4)")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    b1 = (c22 * c1y - c12 * c2y) / det
    b2 = (c11 * c2y - c12 * c1y) / det
    s = s.filter((det != 0) & (cyy != 0))
    return s.select(
        F.col("nk").alias("nationkey"),
        "n",
        F.round(b1, 6).alias("beta_acctbal"),
        F.round(b2, 6).alias("beta_orders"),
        F.round(
            F.col("sy") / n - b1 * F.col("s1") / n - b2 * F.col("s2") / n, 6
        ).alias("intercept"),
        F.round((b1 * c1y + b2 * c2y) / cyy, 6).alias("r2"),
    ).orderBy("nationkey")


# ---------------------------------------------------------------------------
# Split-conformal prediction quantile ([ext] uncertainty
# quantification): per priority, the symmetric 90% conformal interval
# around the group median — q̂ = the ⌈(n+1)·0.9⌉-th smallest
# |v − median| score, the finite-sample-valid band split conformal
# prediction hands any point predictor.  Median and score thresholds
# come from the distinct-value ECDF in exact decimal/integer
# arithmetic (the weighted-median machinery, twice); no value-level
# sort of the fact table, only windows over distinct values.
QCONF_ORACLE = """
WITH d AS (
  SELECT o_orderpriority AS pr, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), e AS (
  SELECT pr, v, c,
         SUM(c) OVER (PARTITION BY pr ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY pr) AS n
  FROM d
), med AS (
  SELECT pr, MIN(CASE WHEN cum * 2 >= n THEN v END) AS m,
         CAST(MAX(n) AS BIGINT) AS n
  FROM e GROUP BY pr
), scores AS (
  SELECT d.pr, abs(d.v - md.m) AS s, d.c, md.n, md.m
  FROM d JOIN med md ON md.pr = d.pr
), sc AS (
  SELECT pr, s, n, m,
         SUM(c) OVER (PARTITION BY pr ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT pr, s, SUM(c) AS c, MAX(n) AS n, MAX(m) AS m
        FROM scores GROUP BY pr, s)
)
SELECT pr,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(m) AS DOUBLE) AS median,
       CAST(MIN(CASE WHEN cum * 10 >= (n + 1) * 9 THEN s END) AS DOUBLE) AS qhat,
       CAST(MAX(m) - MIN(CASE WHEN cum * 10 >= (n + 1) * 9 THEN s END) AS DOUBLE)
         AS lo,
       CAST(MAX(m) + MIN(CASE WHEN cum * 10 >= (n + 1) * 9 THEN s END) AS DOUBLE)
         AS hi
FROM sc
GROUP BY pr
ORDER BY pr
"""


@declare(
    "q_conformal_quantile",
    oracle=QCONF_ORACLE,
    description="split-conformal 90% interval per priority: the ceil((n+1)*0.9)-th smallest |v − median| via distinct-value ECDFs, integer-exact rank thresholds (UQ [ext])",
)
def q_conformal_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    d = o.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # explicit pr-keyed exchange for the two CPU-dense distinct-value
    # ECDF window passes (r12, the exact-ECDF-lane treatment — AQE
    # otherwise coalesces the byte-small agg output onto 1-2 tasks)
    from jibaro_spark.operators.util import dense_exchange

    d = dense_exchange(d, "pr")
    cum_w = (
        Window.partitionBy("pr")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pr_w = Window.partitionBy("pr")
    e = d.select(
        "pr", "v", "c",
        F.sum("c").over(cum_w).alias("cum"),
        F.sum("c").over(pr_w).alias("n"),
    )
    med = e.groupBy("pr").agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))).alias("m"),
        F.max("n").cast("long").alias("n"),
    )
    scores = (
        d.join(med, "pr")
        .groupBy("pr", F.abs(F.col("v") - F.col("m")).alias("s"))
        .agg(F.sum("c").alias("c"), F.max("n").alias("n"), F.max("m").alias("m"))
    )
    scum_w = (
        Window.partitionBy("pr")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sc = dense_exchange(scores, "pr").select(
        "pr", "s", "n", "m", F.sum("c").over(scum_w).alias("cum")
    )
    qhat = F.min(
        F.when(F.col("cum") * 10 >= (F.col("n") + 1) * 9, F.col("s"))
    )
    return (
        sc.groupBy("pr")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("m").cast("double").alias("median"),
            qhat.cast("double").alias("qhat"),
            (F.max("m") - qhat).cast("double").alias("lo"),
            (F.max("m") + qhat).cast("double").alias("hi"),
        )
        .orderBy("pr")
    )


# ---------------------------------------------------------------------------
# Two AdaBoost rounds over decision stumps ([ext] in-engine ML
# training — extends q_gini_split from one split to the boosting
# loop).  Features: price cents and order epoch-day; label: urgent/
# high priority.  Round 1 scores every (feature, threshold, polarity)
# stump with exact INTEGER weighted errors over distinct-value ECDFs;
# round 2 reweights examples by round(exp(±α₁), 10) — two decimal
# scalars, so weighted cell counts are (integer count × decimal
# weight) and the round-2 errors accumulate exactly in
# decimal(38,10).  Both argmins use TakeOrdered limit(1) with a total
# (err, feature, value, polarity) order — no global window, no
# SinglePartition.  At 100 TB each round is: per-feature distinct-
# value collapse (map-side), value-domain-bounded cumulative windows,
# and a 1-row broadcast of the chosen stump back to the examples —
# the per-round cost of distributed GBDT/boosting, one scan + bounded
# windows per round.
QADA_ORACLE = """
WITH ex AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS pos
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_orderpriority IS NOT NULL
), cells AS (
  SELECT 'price' AS feat, price AS v, COUNT(*) AS n, SUM(pos) AS npos
  FROM ex GROUP BY 2
  UNION ALL
  SELECT 'day', day, COUNT(*), SUM(pos) FROM ex GROUP BY 2
), c1 AS (
  SELECT feat, v,
         SUM(n) OVER (PARTITION BY feat ORDER BY v) AS nl,
         SUM(npos) OVER (PARTITION BY feat ORDER BY v) AS pl,
         SUM(n) OVER (PARTITION BY feat) AS nt,
         SUM(npos) OVER (PARTITION BY feat) AS pt
  FROM cells
), e1 AS (
  SELECT feat, v, 'le_pos' AS pol, (nl - pl) + (pt - pl) AS err, nt FROM c1
  UNION ALL
  SELECT feat, v, 'le_neg', pl + (nt - nl) - (pt - pl), nt FROM c1
), best1 AS (
  SELECT feat, v, pol, err, nt,
         ROUND(0.5 * LN(CAST(nt - err AS DOUBLE) / CAST(err AS DOUBLE)), 10) AS alpha
  FROM e1 ORDER BY err, feat, v, pol LIMIT 1
), ex2 AS (
  SELECT ex.price, ex.day, ex.pos,
         CASE WHEN (CASE WHEN b.feat = 'price' THEN ex.price ELSE ex.day END) <= b.v
              THEN (CASE WHEN b.pol = 'le_pos' THEN 1 ELSE 0 END)
              ELSE (CASE WHEN b.pol = 'le_pos' THEN 0 ELSE 1 END)
         END AS pred
  FROM ex, best1 b
), ex3 AS (
  SELECT price, day, pos,
         CASE WHEN pred = pos THEN 1 ELSE 0 END AS correct
  FROM ex2
), wts AS (
  SELECT CAST(ROUND(EXP(-b.alpha), 10) AS DECIMAL(28,10)) AS w_right,
         CAST(ROUND(EXP(b.alpha), 10) AS DECIMAL(28,10)) AS w_wrong
  FROM best1 b
), cells2 AS (
  SELECT 'price' AS feat, price AS v, correct, COUNT(*) AS n, SUM(pos) AS npos,
         SUM(1 - pos) AS nneg
  FROM ex3 GROUP BY 2, 3
  UNION ALL
  SELECT 'day', day, correct, COUNT(*), SUM(pos), SUM(1 - pos)
  FROM ex3 GROUP BY 2, 3
), wcells AS (
  SELECT feat, v,
         SUM(CAST(n AS DECIMAL(28,0))
             * (CASE WHEN correct = 1 THEN w.w_right ELSE w.w_wrong END)) AS wn,
         SUM(CAST(npos AS DECIMAL(28,0))
             * (CASE WHEN correct = 1 THEN w.w_right ELSE w.w_wrong END)) AS wpos
  FROM cells2, wts w
  GROUP BY 1, 2
), c2 AS (
  SELECT feat, v,
         SUM(wn) OVER (PARTITION BY feat ORDER BY v) AS wl,
         SUM(wpos) OVER (PARTITION BY feat ORDER BY v) AS pwl,
         SUM(wn) OVER (PARTITION BY feat) AS wnt,
         SUM(wpos) OVER (PARTITION BY feat) AS pwt
  FROM wcells
), e2 AS (
  SELECT feat, v, 'le_pos' AS pol, (wl - pwl) + (pwt - pwl) AS werr, wnt FROM c2
  UNION ALL
  SELECT feat, v, 'le_neg', pwl + (wnt - wl) - (pwt - pwl), wnt FROM c2
), best2 AS (
  SELECT feat, v, pol, werr, wnt,
         ROUND(0.5 * LN(CAST(wnt - werr AS DOUBLE) / CAST(werr AS DOUBLE)), 10)
           AS alpha
  FROM e2 ORDER BY werr, feat, v, pol LIMIT 1
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS rnd, feat AS feature, CAST(v AS DOUBLE) AS threshold,
         pol AS polarity,
         ROUND(CAST(err AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS err_rate,
         ROUND(alpha, 6) AS alpha
  FROM best1
  UNION ALL
  SELECT CAST(2 AS BIGINT), feat, CAST(v AS DOUBLE), pol,
         ROUND(CAST(werr AS DOUBLE) / CAST(wnt AS DOUBLE), 6), ROUND(alpha, 6)
  FROM best2
) ORDER BY rnd
"""


@declare(
    "q_adaboost_round",
    oracle=QADA_ORACLE,
    description="Two AdaBoost rounds over two-feature decision stumps: integer round-1 errors, round(exp(±α),10)-decimal round-2 weights, TakeOrdered argmins — the distributed boosting primitive (training [ext])",
)
def q_adaboost_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators import relational as rel
    from jibaro_spark.operators.util import size_route

    o = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): both stump feature axes
    # and the label must be defined — NULLs sort to opposite ends of
    # the cumulative-error scans
    o = o.filter(
        F.col("o_totalprice").isNotNull()
        & F.col("o_orderdate").isNotNull()
        & F.col("o_orderpriority").isNotNull()
    )
    ex = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("price"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("pos"),
    )
    # r12 note: spreading ex (hash on price) to parallelize the cells
    # aggregations' single-file map stage ABAB-measured WORSE (4.32 vs
    # 3.54 s, steal 0%) — the extra 150k-row exchange plus its
    # interaction with the lazily-checkpointed cells probe costs more
    # than the one-core partial agg saves.  The unspread scan stays.
    #
    # r13 (VERDICT r12 #4): with the cells frames lazily pinned, the
    # residual is attacked differently — (a) the round-2 (cells2 →
    # wcells) two-step collapses to ONE aggregation straight off ex3
    # (see wcells below); (b) best1's pin goes LAZY — the b-broadcast
    # build materializes it, the union branch reads the cache, no
    # standalone construction job.  Feeding ex to both rounds from a
    # pinned copy lost or washed in r13 ABAB (steal ≤0.3%): spread+pin
    # 3.62 vs 3.39 s plain-pin; pin-only 3.94 vs 3.86 s unpinned — the
    # projected scan is cheaper than materializing it.

    def feat_cells(df: DataFrame) -> DataFrame:
        # ONE scan for both feature axes (guide §1.2 "don't make two
        # passes when one suffices"): explode each example into its
        # (feat, v) projections and aggregate once — the r11 form
        # union-aggregated per feature, scanning the examples twice.
        # Identical cells: GROUP BY (feat, v) over the exploded rows ≡
        # the union of the two per-feature GROUP BYs.
        return (
            df.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit("price").alias("feat"), F.col("price").alias("v")
                        ),
                        F.struct(F.lit("day").alias("feat"), F.col("day").alias("v")),
                    )
                ).alias("fv"),
                "pos",
            )
            .groupBy(F.col("fv.feat").alias("feat"), F.col("fv.v").alias("v"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("pos").alias("npos"),
            )
        )

    # The cumulative-error scan must NOT be Window.partitionBy("feat"):
    # with feat ∈ {price, day} that is a 2-task stage, and `price` is
    # cents-granular (~5×10^7 distinct values at 100×).  grouped_prefix_sum
    # computes the identical running sums chunk-parallel (both measures in
    # one pass), and the per-feature TOTALS collapse to a 2-row broadcast.
    #
    # LAZY checkpoint so the routing probe's group-size job materializes
    # the cells aggregation ONCE and the routed windows read cached
    # blocks (an unpinned probe re-ran the whole subtree and measured
    # 7.3 s vs 5.9 s; with the pin the plain route wins).  When the
    # value domain trips the hot-group bound (cents-granular at 100×),
    # the chunked route pays one extra cells-table read — a bounded
    # distinct-value table, not the raw input.
    #
    # r13: round 2 reuses round 1's decision, skipping its own probe
    # job — round 2's wcells has EXACTLY round 1's (feat, v) key set
    # (one row per distinct cell of the same examples), so its per-feat
    # group sizes are identical and the decision provably transfers at
    # any scale.
    cells = feat_cells(ex).localCheckpoint(eager=False)
    route_plain = size_route(
        cells, ["feat"], max_abs=rel._CARRY_PLAIN_MAX_ABS,
        share=rel._CARRY_PLAIN_SHARE,
        n_parts=spark.sparkContext.defaultParallelism,
    ).plain

    def cum_and_tot(cdf, ncol, pcol, nl, pl, nt, pt):
        # running sums AND per-feature totals from ONE pass — the
        # totals come from the chunk totals the pipeline already owns,
        # so the cell collapse underneath is scanned exactly once
        return rel.grouped_prefix_sum(
            cdf, ["feat"], ["v"], [ncol, pcol], [nl, pl],
            total_cols=[nt, pt],
            route_plain=route_plain,
        ).select("feat", "v", nl, pl, nt, pt)

    def both_polarities(cdf, err_le_pos, err_le_neg, err_name):
        # ONE pass over the cumulative scan for both polarities (the
        # r11 union of two selects re-ran the whole windowed
        # prefix-sum pipeline per branch — the before-plan's duplicated
        # SMJ/Window/HashAggregate subtree): explode each cell into
        # its two (pol, err) rows instead.  Identical candidate set,
        # and the argmin is limit(1) under the total (err, feat, v,
        # pol) order, so the chosen stump is unchanged.
        return cdf.select(
            "feat",
            "v",
            *[c for c in cdf.columns if c not in ("feat", "v")],
            F.explode(
                F.array(
                    F.struct(
                        F.lit("le_pos").alias("pol"), err_le_pos.alias("e")
                    ),
                    F.struct(F.lit("le_neg").alias("pol"), err_le_neg.alias("e")),
                )
            ).alias("pe"),
        ).select(
            "feat",
            "v",
            F.col("pe.pol").alias("pol"),
            F.col("pe.e").alias(err_name),
            *[c for c in cdf.columns if c not in ("feat", "v")],
        )

    c1 = cum_and_tot(cells, "n", "npos", "nl", "pl", "nt", "pt")
    e1 = both_polarities(
        c1,
        (F.col("nl") - F.col("pl")) + (F.col("pt") - F.col("pl")),
        F.col("pl") + (F.col("nt") - F.col("nl")) - (F.col("pt") - F.col("pl")),
        "err",
    ).select("feat", "v", "pol", "err", "nt")
    best1 = (
        e1.orderBy("err", "feat", "v", "pol")
        .limit(1)
        .withColumn(
            "alpha",
            F.round(
                0.5
                * F.log(
                    (F.col("nt") - F.col("err")).cast("double")
                    / F.col("err").cast("double")
                ),
                10,
            ),
        )
        # 1-row stump with three consumers (round-2 scoring twice via the
        # per-feature cell branches + the weight scalars): pin it so the
        # round-1 aggregation pipeline runs once.  r13: LAZY — the
        # b-broadcast build is the first consumer and materializes it;
        # eager spent a whole extra job on a 1-row frame.
        .localCheckpoint(eager=False)
    )
    b = F.broadcast(
        best1.select(
            F.col("feat").alias("feat1"),
            F.col("v").alias("v1"),
            F.col("pol").alias("pol1"),
            F.col("alpha").alias("alpha1"),
        )
    )
    xval = F.when(F.col("feat1") == "price", F.col("price")).otherwise(F.col("day"))
    pred = F.when(
        xval <= F.col("v1"),
        F.when(F.col("pol1") == "le_pos", 1).otherwise(0),
    ).otherwise(F.when(F.col("pol1") == "le_pos", 0).otherwise(1))
    ex3 = ex.crossJoin(b).withColumn(
        "correct", F.when(pred == F.col("pos"), 1).otherwise(0)
    )
    # weight scalars recomputed from the broadcast stump — stays in-plan
    w_right = F.round(F.exp(-F.col("alpha1")), 10).cast("decimal(28,10)")
    w_wrong = F.round(F.exp(F.col("alpha1")), 10).cast("decimal(28,10)")
    wexpr = F.when(F.col("correct") == 1, w_right).otherwise(w_wrong)
    # ONE aggregation straight off ex3 (r13): fixed-scale decimal
    # addition is exact, so summing w(correct) per row equals the
    # grouped n·w(correct) / npos·w(correct) products bit-for-bit
    # (same decimal(28,0)×decimal(28,10) product expression shape,
    # so the result type is unchanged too).  Drops the
    # (feat, v, correct) intermediate shuffle and the second
    # crossJoin of the stump.
    wcells = (
        ex3.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("price").alias("feat"), F.col("price").alias("v")
                    ),
                    F.struct(F.lit("day").alias("feat"), F.col("day").alias("v")),
                )
            ).alias("fv"),
            (F.lit(1).cast("decimal(28,0)") * wexpr).alias("__w"),
            (F.col("pos").cast("decimal(28,0)") * wexpr).alias("__wp"),
        )
        .groupBy(F.col("fv.feat").alias("feat"), F.col("fv.v").alias("v"))
        .agg(F.sum("__w").alias("wn"), F.sum("__wp").alias("wpos"))
    )
    c2 = cum_and_tot(
        wcells.localCheckpoint(eager=False), "wn", "wpos", "wl", "pwl", "wnt", "pwt"
    )
    e2 = both_polarities(
        c2,
        (F.col("wl") - F.col("pwl")) + (F.col("pwt") - F.col("pwl")),
        F.col("pwl") + (F.col("wnt") - F.col("wl")) - (F.col("pwt") - F.col("pwl")),
        "werr",
    ).select("feat", "v", "pol", "werr", "wnt")
    best2 = (
        e2.orderBy("werr", "feat", "v", "pol")
        .limit(1)
        .withColumn(
            "alpha",
            F.round(
                0.5
                * F.log(
                    (F.col("wnt") - F.col("werr")).cast("double")
                    / F.col("werr").cast("double")
                ),
                10,
            ),
        )
    )
    r1 = best1.select(
        F.lit(1).cast("long").alias("rnd"),
        F.col("feat").alias("feature"),
        F.col("v").cast("double").alias("threshold"),
        F.col("pol").alias("polarity"),
        F.round(F.col("err").cast("double") / F.col("nt").cast("double"), 6).alias(
            "err_rate"
        ),
        F.round("alpha", 6).alias("alpha"),
    )
    r2 = best2.select(
        F.lit(2).cast("long").alias("rnd"),
        F.col("feat").alias("feature"),
        F.col("v").cast("double").alias("threshold"),
        F.col("pol").alias("polarity"),
        F.round(
            F.col("werr").cast("double") / F.col("wnt").cast("double"), 6
        ).alias("err_rate"),
        F.round("alpha", 6).alias("alpha"),
    )
    return r1.unionByName(r2).orderBy("rnd")


# ---------------------------------------------------------------------------
# Brier score + reliability diagram.  Deterministic md5 split on the
# lineitem PK; the "model" is the train-half per-quantity-band return
# rate (rounded to 6 — the prediction is a plan-stable double); test
# rows score against it.  Per-decile-bin mean prediction vs observed
# rate + bin Brier, all from integer/decimal-exact cells.

QBRIER_ORACLE = """
WITH s AS (
  SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                              CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)
           % 2 AS part,
         CAST(l_quantity AS BIGINT) AS band,
         CAST(l_returnflag = 'R' AS INT) AS y
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
    AND l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
), model AS (
  SELECT band, ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS p_hat
  FROM s WHERE part = 0 GROUP BY band
), fallback AS (
  SELECT ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS p_glob
  FROM s WHERE part = 0
), test AS (
  SELECT COALESCE(m.p_hat, f.p_glob) AS p_hat, t.y
  FROM s t LEFT JOIN model m USING (band) CROSS JOIN fallback f
  WHERE t.part = 1
), binned AS (
  SELECT least(CAST(floor(p_hat * 10) AS BIGINT), 9) AS cal_bin, p_hat, y,
         CAST(ROUND((p_hat - y) * (p_hat - y), 10) AS DECIMAL(28,12)) AS sq
  FROM test
)
SELECT cal_bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(p_hat AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_pred,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS obs_rate,
       ROUND(CAST(SUM(sq) AS DOUBLE) / COUNT(*), 6) AS brier
FROM binned
GROUP BY cal_bin
ORDER BY cal_bin
"""


@declare(
    "q_brier_calibration",
    oracle=QBRIER_ORACLE,
    description="Brier score + reliability diagram: md5 train/test split, per-quantity-band return-rate model, decile calibration bins with mean prediction, observed rate, and bin Brier (ML calibration eval [ext])",
)
def q_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): split key, band, and label
    # must be defined — concat_ws silently skips a NULL key part where
    # SQL || propagates it, putting the row in different split halves
    li = li.filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    # r13 spread-at-the-map (guide §2.5): the per-row md5+conv split
    # key below materializes into the eager pin from the single-row-
    # group scan's ONE partition; the payload is 4 narrow columns, so
    # the exchange is cheap next to the hash compute
    from jibaro_spark.operators.util import ensure_parallelism

    li = ensure_parallelism(
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
        by="l_orderkey",
    )
    part = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    s = li.select(
        part.alias("part"),
        F.col("l_quantity").cast("long").alias("band"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    s = s.localCheckpoint(eager=True)  # model, fallback, and test share it
    train = s.filter(F.col("part") == 0)
    model = train.groupBy("band").agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("p_hat")
    )
    fallback = train.agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("p_glob")
    )
    test = (
        s.filter(F.col("part") == 1)
        .join(F.broadcast(model), "band", "left")
        .crossJoin(F.broadcast(fallback))
        .select(F.coalesce(F.col("p_hat"), F.col("p_glob")).alias("p_hat"), "y")
    )
    binned = test.select(
        F.least(F.floor(F.col("p_hat") * 10).cast("long"), F.lit(9)).alias(
            "cal_bin"
        ),
        "p_hat",
        "y",
        F.round((F.col("p_hat") - F.col("y")) * (F.col("p_hat") - F.col("y")), 10)
        .cast("decimal(28,12)")
        .alias("sq"),
    )
    return (
        binned.groupBy("cal_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.col("p_hat").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_pred"),
            F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
                "obs_rate"
            ),
            F.round(F.sum("sq").cast("double") / F.count(F.lit(1)), 6).alias(
                "brier"
            ),
        )
        .orderBy("cal_bin")
    )


# ---------------------------------------------------------------------------
# Isotonic calibration: the minimax-identity isotonic fit
# (operators/training.isotonic_fit_binned) of the return rate vs the
# quantity bin, per linestatus.  Counts-first: the operator sees one
# row per (linestatus, quantity) — 50 bins — and every interval mean
# is integer/integer double division, exact in both engines.

QISO_ORACLE = """
WITH cells AS (
  SELECT l_linestatus AS linestatus, CAST(l_quantity AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_returnflag = 'R' AS INT)) AS BIGINT) AS s
  FROM lineitem GROUP BY l_linestatus, CAST(l_quantity AS BIGINT)
), pref AS (
  SELECT linestatus, bin, n, s,
         SUM(n) OVER (PARTITION BY linestatus ORDER BY bin) AS cn,
         SUM(s) OVER (PARTITION BY linestatus ORDER BY bin) AS cs
  FROM cells
), pairs AS (
  SELECT a.linestatus, a.bin AS j, e.bin AS k,
         CAST(e.cs - (a.cs - a.s) AS DOUBLE)
           / CAST(e.cn - (a.cn - a.n) AS DOUBLE) AS iavg
  FROM pref a JOIN pref e
    ON a.linestatus = e.linestatus AND e.bin >= a.bin
), m AS (
  SELECT linestatus, j, k,
         MIN(iavg) OVER (PARTITION BY linestatus, j ORDER BY k DESC) AS mjk
  FROM pairs
), fit AS (
  SELECT linestatus, k AS bin, MAX(mjk) AS iso FROM m GROUP BY linestatus, k
)
SELECT c.linestatus, c.bin, c.n,
       ROUND(CAST(c.s AS DOUBLE) / c.n, 6) AS raw_rate,
       ROUND(f.iso, 6) AS iso_rate
FROM cells c JOIN fit f USING (linestatus, bin)
ORDER BY linestatus, bin
"""


@declare(
    "q_isotonic_calibration",
    oracle=QISO_ORACLE,
    description="Weighted isotonic regression (minimax-identity distributed PAV) of return rate vs quantity bin per linestatus — the nonparametric model-calibration primitive, O(B²) rows per group with B = bin-domain size (ML calibration [ext])",
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.training import isotonic_fit_binned

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    cells = li.groupBy(
        F.col("l_linestatus").alias("linestatus"),
        F.col("l_quantity").cast("long").alias("bin"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("int")).cast("long").alias("s"),
    )
    fit = isotonic_fit_binned(cells, ["linestatus"], "bin", "n", "s")
    return fit.select(
        "linestatus",
        "bin",
        "n",
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("raw_rate"),
        F.round(F.col("iso_fit"), 6).alias("iso_rate"),
    ).orderBy("linestatus", "bin")


# ---------------------------------------------------------------------------
# VaR / CVaR per segment.

QVAR_ORACLE = """
WITH pts AS (
  SELECT c.c_mktsegment AS seg,
         CAST(floor(o.o_totalprice) AS BIGINT) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), ecdf AS (
  SELECT seg, v,
         SUM(c) OVER (PARTITION BY seg ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY seg) AS n
  FROM (SELECT seg, v, COUNT(*) AS c FROM pts GROUP BY seg, v)
), cut AS (
  SELECT seg, MIN(CASE WHEN cum >= CAST(ceil(0.95 * n) AS BIGINT) THEN v END)
           AS var_cents
  FROM ecdf GROUP BY seg
), tail AS (
  SELECT p.seg, CAST(COUNT(*) AS BIGINT) AS n_tail,
         CAST(SUM(CAST(p.v AS HUGEINT)) AS DECIMAL(38,0)) AS s_tail
  FROM pts p JOIN cut c USING (seg)
  WHERE p.v >= c.var_cents
  GROUP BY p.seg
)
SELECT c.seg,
       CAST(c.var_cents AS DOUBLE) AS var_95,
       ROUND(CAST(t.s_tail AS DOUBLE) / t.n_tail, 6) AS cvar_95,
       t.n_tail
FROM cut c JOIN tail t USING (seg)
ORDER BY c.seg
"""


@declare(
    "q_var_cvar",
    oracle=QVAR_ORACLE,
    description="Value-at-Risk (exact type-1 p95 of domain-bounded whole-dollar bands) and CVaR / expected shortfall (exact tail mean) of order totals per segment (tail risk [ext])",
)
def q_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    o, c = t["orders"], t["customer"]
    pts = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("o_totalprice")).cast("long").alias("v"),
    )
    pts = pts.localCheckpoint(eager=True)  # ECDF + tail mean share it
    cells = pts.groupBy("seg", "v").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.partitionBy("seg").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ecdf = cells.withColumn("cum", F.sum("c").over(wc)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("seg"))
    )
    cut = ecdf.groupBy("seg").agg(
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(0.95) * F.col("n")).cast("long"),
                F.col("v"),
            )
        ).alias("var_cents")
    )
    tail = (
        pts.join(F.broadcast(cut), "seg")
        .filter(F.col("v") >= F.col("var_cents"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tail"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("s_tail"),
        )
    )
    return (
        cut.join(tail, "seg")
        .select(
            "seg",
            F.col("var_cents").cast("double").alias("var_95"),
            F.round(
                F.col("s_tail").cast("double") / F.col("n_tail"), 6
            ).alias("cvar_95"),
            "n_tail",
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# Log-log demand elasticity per returnflag.

QELAS_ORACLE = """
WITH xy AS (
  SELECT l_returnflag AS flag,
         ROUND(ln(l_extendedprice), 10) AS x,
         ROUND(ln(l_quantity), 10) AS y
  FROM lineitem WHERE l_extendedprice > 0 AND l_quantity > 0
), mom AS (
  SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(x, 10) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(y, 10) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * y, 8) AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(x * x, 8) AS DECIMAL(28,10))) AS DOUBLE) AS sxx
  FROM xy GROUP BY flag
)
SELECT flag, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity
FROM mom ORDER BY flag
"""


@declare(
    "q_price_elasticity",
    oracle=QELAS_ORACLE,
    description="Log-log demand elasticity per returnflag: per-row rounded ln's, decimal-accumulated moments, closed-form OLS slope (econometrics [ext])",
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    xy = li.filter(
        (F.col("l_extendedprice") > 0) & (F.col("l_quantity") > 0)
    ).select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.log(F.col("l_extendedprice")), 10).alias("x"),
        F.round(F.log(F.col("l_quantity")), 10).alias("y"),
    )
    # hash-spread the projected pairs before the log/round/decimal
    # moment agg (r12, the PCA moment-pass treatment — the map-side
    # partials otherwise run on the single-row-group scan's ONE core;
    # decimal sums of per-row-rounded terms are order-free exact)
    from jibaro_spark.operators.util import ensure_parallelism

    xy = ensure_parallelism(xy, by="x")
    mom = xy.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("x"), 10).cast("decimal(28,12)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round(F.col("y"), 10).cast("decimal(28,12)"))
        .cast("double")
        .alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 8).cast("decimal(28,10)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 8).cast("decimal(28,10)"))
        .cast("double")
        .alias("sxx"),
    )
    return mom.select(
        "flag",
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("elasticity"),
    ).orderBy("flag")


# ---------------------------------------------------------------------------
# PR-AUC / average precision of the band return-rate scorer.

QPR_ORACLE = """
WITH s AS (
  SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                              CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)
           % 2 AS part,
         CAST(l_quantity AS BIGINT) AS band,
         CAST(l_returnflag = 'R' AS INT) AS y
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
    AND l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
), model AS (
  SELECT band, ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS p_hat
  FROM s WHERE part = 0 GROUP BY band
), fallback AS (
  SELECT ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS p_glob
  FROM s WHERE part = 0
), test AS (
  SELECT COALESCE(m.p_hat, f.p_glob) AS p_hat, t.y
  FROM s t LEFT JOIN model m USING (band) CROSS JOIN fallback f
  WHERE t.part = 1
), cells AS (
  SELECT p_hat, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM test GROUP BY p_hat
), cum AS (
  SELECT p_hat,
         SUM(n) OVER (ORDER BY p_hat DESC) AS cn,
         SUM(pos) OVER (ORDER BY p_hat DESC) AS cpos,
         SUM(pos) OVER () AS tot_pos
  FROM cells
), steps AS (
  SELECT CAST(ROUND(
           (CAST(cpos AS DOUBLE) / tot_pos
            - CAST(COALESCE(LAG(cpos) OVER (ORDER BY p_hat DESC), 0) AS DOUBLE)
              / tot_pos)
           * (CAST(cpos AS DOUBLE) / cn), 12) AS DECIMAL(18,14)) AS a
  FROM cum
)
SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM cells) AS n_test,
       (SELECT CAST(MAX(tot_pos) AS BIGINT) FROM cum) AS n_pos,
       ROUND(CAST(SUM(a) AS DOUBLE), 6) AS average_precision
FROM steps
"""


@declare(
    "q_pr_auc",
    oracle=QPR_ORACLE,
    description="Average precision (step-wise PR-AUC) of the md5-split band return-rate scorer: distinct-score cells, cumulative precision/recall, Σ ΔR·P with rounded-addend decimal pooling — the imbalance-robust companion of exact ROC-AUC (ML eval [ext])",
)
def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): same fence as
    # q_brier_calibration — concat_ws vs || on a NULL split-key part
    li = li.filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    part = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    s = li.select(
        part.alias("part"),
        F.col("l_quantity").cast("long").alias("band"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    s = s.localCheckpoint(eager=True)
    train = s.filter(F.col("part") == 0)
    model = train.groupBy("band").agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("p_hat")
    )
    fallback = train.agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("p_glob")
    )
    test = (
        s.filter(F.col("part") == 1)
        .join(F.broadcast(model), "band", "left")
        .crossJoin(F.broadcast(fallback))
        .select(F.coalesce(F.col("p_hat"), F.col("p_glob")).alias("p_hat"), "y")
    )
    cells = test.groupBy("p_hat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    cells = cells.localCheckpoint(eager=True)  # cum + totals share it
    wd = Window.orderBy(F.col("p_hat").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.withColumn("cn", F.sum("n").over(wd)).withColumn(
        "cpos", F.sum("pos").over(wd)
    ).withColumn("tot_pos", F.sum("pos").over(Window.partitionBy()))
    wl = Window.orderBy(F.col("p_hat").desc())
    steps = cum.select(
        F.round(
            (
                F.col("cpos").cast("double") / F.col("tot_pos")
                - F.coalesce(F.lag("cpos").over(wl), F.lit(0)).cast("double")
                / F.col("tot_pos")
            )
            * (F.col("cpos").cast("double") / F.col("cn")),
            12,
        )
        .cast("decimal(18,14)")
        .alias("a")
    )
    totals = cells.agg(
        F.sum("n").cast("long").alias("n_test"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    ap = steps.agg(
        F.round(F.sum("a").cast("double"), 6).alias("average_precision")
    )
    return totals.crossJoin(F.broadcast(ap))


# ---------------------------------------------------------------------------
# Shapley/LMG R² decomposition for two regressors:
#   R²({1}) = r_y1², R²({2}) = r_y2²,
#   R²({1,2}) = (r_y1² + r_y2² − 2 r_y1 r_y2 r_12) / (1 − r_12²)
#   φ1 = ½·r_y1² + ½·(R²_full − r_y2²);  φ2 symmetric;  φ1+φ2 = R²_full.

QSHAP_ORACLE = """
WITH m AS (
  SELECT CAST(l_extendedprice AS DECIMAL(19,4)) AS yv,
         CAST(l_quantity AS DECIMAL(19,4)) AS x1,
         CAST(l_discount AS DECIMAL(19,4)) AS x2
  FROM lineitem
), mom AS (
  SELECT COUNT(*) AS n,
         SUM(yv) AS sy, SUM(x1) AS s1, SUM(x2) AS s2,
         SUM(yv*yv) AS syy, SUM(x1*x1) AS s11, SUM(x2*x2) AS s22,
         SUM(yv*x1) AS sy1, SUM(yv*x2) AS sy2, SUM(x1*x2) AS s12
  FROM m
), r AS (
  SELECT
    ROUND((n * CAST(sy1 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(s1 AS DOUBLE))
          / sqrt((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (n * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))), 10) AS ry1,
    ROUND((n * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(s2 AS DOUBLE))
          / sqrt((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (n * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))), 10) AS ry2,
    ROUND((n * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
          / sqrt((n * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 * (n * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))), 10) AS r12
  FROM mom
), f AS (
  SELECT ry1, ry2, r12,
         (ry1 * ry1 + ry2 * ry2 - 2 * ry1 * ry2 * r12) / (1 - r12 * r12)
           AS r2_full
  FROM r
)
SELECT ROUND(r2_full, 6) AS r2_full,
       ROUND(0.5 * ry1 * ry1 + 0.5 * (r2_full - ry2 * ry2), 6) AS shapley_qty,
       ROUND(0.5 * ry2 * ry2 + 0.5 * (r2_full - ry1 * ry1), 6) AS shapley_discount
FROM f
"""


@declare(
    "q_shapley_r2",
    oracle=QSHAP_ORACLE,
    description="Shapley (LMG) decomposition of two-regressor R² — average sequential R² gain over both orderings, closed-form from the correlation triple of one exact-moment pass; φ₁+φ₂ = R²_full (explainability [ext])",
)
def q_shapley_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    m = li.select(
        F.col("l_extendedprice").cast("decimal(19,4)").alias("yv"),
        F.col("l_quantity").cast("decimal(19,4)").alias("x1"),
        F.col("l_discount").cast("decimal(19,4)").alias("x2"),
    )
    mom = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yv").alias("sy"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("yv") * F.col("yv")).alias("syy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("yv") * F.col("x1")).alias("sy1"),
        F.sum(F.col("yv") * F.col("x2")).alias("sy2"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
    )

    def corr(sab, sa, sb, saa, sbb):
        n = F.col("n")
        num = n * F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(
            sb
        ).cast("double")
        den = F.sqrt(
            (
                n * F.col(saa).cast("double")
                - F.col(sa).cast("double") * F.col(sa).cast("double")
            )
            * (
                n * F.col(sbb).cast("double")
                - F.col(sb).cast("double") * F.col(sb).cast("double")
            )
        )
        return F.round(num / den, 10)

    r = mom.select(
        corr("sy1", "sy", "s1", "syy", "s11").alias("ry1"),
        corr("sy2", "sy", "s2", "syy", "s22").alias("ry2"),
        corr("s12", "s1", "s2", "s11", "s22").alias("r12"),
    )
    r2_full = (
        F.col("ry1") * F.col("ry1")
        + F.col("ry2") * F.col("ry2")
        - 2 * F.col("ry1") * F.col("ry2") * F.col("r12")
    ) / (1 - F.col("r12") * F.col("r12"))
    f = r.withColumn("r2_full", r2_full)
    return f.select(
        F.round("r2_full", 6).alias("r2_full"),
        F.round(
            0.5 * F.col("ry1") * F.col("ry1")
            + 0.5 * (F.col("r2_full") - F.col("ry2") * F.col("ry2")),
            6,
        ).alias("shapley_qty"),
        F.round(
            0.5 * F.col("ry2") * F.col("ry2")
            + 0.5 * (F.col("r2_full") - F.col("ry1") * F.col("ry1")),
            6,
        ).alias("shapley_discount"),
    )


# ---------------------------------------------------------------------------
# Oaxaca-Blinder two-group decomposition: gap = Δx̄'β_pooled (explained)
# + remainder (unexplained).  y = acctbal cents, x = the customer's
# nation-level mean order count (a group-composition regressor),
# groups = BUILDING vs rest.

QOAX_ORACLE = """
WITH cust AS (
  SELECT * FROM customer
  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
    AND c_acctbal IS NOT NULL
), natx AS (
  SELECT c_nationkey AS nk,
         ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT c_mktsegment), 6) AS x
  FROM cust GROUP BY c_nationkey
), pts AS (
  SELECT CAST(c.c_mktsegment = 'BUILDING' AS INT) AS grp,
         CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) AS y,
         n.x
  FROM cust c JOIN natx n ON n.nk = c.c_nationkey
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(y AS HUGEINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(x * y, 4) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(x * x, 8) AS DECIMAL(28,10))) AS DOUBLE) AS sxx
  FROM pts
), beta AS (
  SELECT (n * sxy - sx * CAST(sy AS DOUBLE)) / (n * sxx - sx * sx) AS b
  FROM mom
), g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(y AS HUGEINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx
  FROM pts GROUP BY grp
), wide AS (
  SELECT MAX(CASE WHEN grp = 1 THEN CAST(sy AS DOUBLE) / n END) AS y1,
         MAX(CASE WHEN grp = 0 THEN CAST(sy AS DOUBLE) / n END) AS y0,
         MAX(CASE WHEN grp = 1 THEN sx / n END) AS x1,
         MAX(CASE WHEN grp = 0 THEN sx / n END) AS x0
  FROM g
)
SELECT ROUND((y1 - y0) / 100, 6) AS total_gap,
       ROUND((x1 - x0) * b.b / 100, 6) AS explained,
       ROUND(((y1 - y0) - (x1 - x0) * b.b) / 100, 6) AS unexplained
FROM wide CROSS JOIN beta b
"""


@declare(
    "q_oaxaca_gap",
    oracle=QOAX_ORACLE,
    description="Oaxaca-Blinder decomposition of the BUILDING-vs-rest acctbal gap with a pooled-β composition regressor: explained = Δx̄·β, unexplained = remainder, all from exact group moments (econometrics [ext])",
)
def q_oaxaca_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    # NULL contract (relational fuzz sweep): grp/y/regressor all need
    # defined inputs — a NULL-mktsegment nation group would make
    # COUNT(DISTINCT)=0 and divide by zero under ANSI
    cust = cust.filter(
        F.col("c_nationkey").isNotNull()
        & F.col("c_mktsegment").isNotNull()
        & F.col("c_acctbal").isNotNull()
    )
    natx = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.round(
            F.count(F.lit(1)).cast("double") / F.countDistinct("c_mktsegment"), 6
        ).alias("x")
    )
    pts = cust.join(
        F.broadcast(natx), cust["c_nationkey"] == natx["nk"]
    ).select(
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("grp"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("y"),
        "x",
    )
    pts = pts.localCheckpoint(eager=True)  # pooled beta + group means
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum(F.round(F.col("x") * F.col("y"), 4).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 8).cast("decimal(28,10)"))
        .cast("double")
        .alias("sxx"),
    )
    beta = mom.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy").cast("double"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("b")
    )
    g = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,6)")).cast("double").alias("sx"),
    )
    wide = g.agg(
        F.max(
            F.when(F.col("grp") == 1, F.col("sy").cast("double") / F.col("n"))
        ).alias("y1"),
        F.max(
            F.when(F.col("grp") == 0, F.col("sy").cast("double") / F.col("n"))
        ).alias("y0"),
        F.max(F.when(F.col("grp") == 1, F.col("sx") / F.col("n"))).alias("x1"),
        F.max(F.when(F.col("grp") == 0, F.col("sx") / F.col("n"))).alias("x0"),
    )
    return wide.crossJoin(F.broadcast(beta)).select(
        F.round((F.col("y1") - F.col("y0")) / 100, 6).alias("total_gap"),
        F.round((F.col("x1") - F.col("x0")) * F.col("b") / 100, 6).alias(
            "explained"
        ),
        F.round(
            ((F.col("y1") - F.col("y0")) - (F.col("x1") - F.col("x0")) * F.col("b"))
            / 100,
            6,
        ).alias("unexplained"),
    )


# ---------------------------------------------------------------------------
# Confusion-matrix metric battery for the English heuristic.

QCONFUSION_METRICS_ORACLE = """
WITH cells AS (
  SELECT CAST(instr(lower(text), ' the ') > 0 AS INT) AS pred,
         CAST(lang = 'en' AS INT) AS truth,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
), cm AS (
  SELECT CAST(SUM(CASE WHEN pred = 1 AND truth = 1 THEN n ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN pred = 1 AND truth = 0 THEN n ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN pred = 0 AND truth = 1 THEN n ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN pred = 0 AND truth = 0 THEN n ELSE 0 END) AS BIGINT) AS tn
  FROM cells
)
SELECT tp, fp, fn, tn,
       ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
       ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
       ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
       ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
             / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                    * (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn)), 6)
         AS mcc,
       ROUND(0.5 * (CAST(tp AS DOUBLE) / (tp + fn)
             + CAST(tn AS DOUBLE) / (tn + fp)), 6) AS balanced_accuracy
FROM cm
"""


@declare(
    "q_confusion_metrics",
    oracle=QCONFUSION_METRICS_ORACLE,
    description="Precision/recall/F1/MCC/balanced-accuracy battery of the integer-exact English heuristic vs the lang label, from the four confusion cells of one scan (ML eval [ext])",
)
def q_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    cells = docs.groupBy(
        (F.instr(F.lower(F.col("text")), " the ") > 0).cast("int").alias("pred"),
        (F.col("lang") == "en").cast("int").alias("truth"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    cm = cells.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("truth") == 1), F.col("n")).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("truth") == 0), F.col("n")).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("truth") == 1), F.col("n")).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("truth") == 0), F.col("n")).otherwise(0)).cast("long").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(tp / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        F.round(tp / (F.col("tp") + F.col("fn")), 6).alias("recall"),
        F.round(
            2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")), 6
        ).alias("f1"),
        F.round(
            (tp * tn - fp * fn)
            / F.sqrt(
                (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
            ),
            6,
        ).alias("mcc"),
        F.round(
            0.5 * (tp / (F.col("tp") + F.col("fn")) + tn / (F.col("tn") + F.col("fp"))),
            6,
        ).alias("balanced_accuracy"),
    )


QIDX_ORACLE = """
WITH yr AS (
  SELECT MIN(year(o_orderdate)) AS y0, MAX(year(o_orderdate)) AS y1 FROM orders
), pp AS (
  SELECT l.l_partkey AS pk, year(o.o_orderdate) AS y,
         SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS q,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS v
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  CROSS JOIN yr
  WHERE year(o.o_orderdate) IN (yr.y0, yr.y1)
  GROUP BY 1, 2
), px AS (
  SELECT pk, y, q, CAST(v AS DOUBLE) / CAST(q AS DOUBLE) AS p FROM pp
), matched AS (
  SELECT a.pk, a.q AS q0, a.p AS p0, b.q AS q1, b.p AS p1
  FROM px a JOIN px b ON b.pk = a.pk
  CROSS JOIN yr
  WHERE a.y = yr.y0 AND b.y = yr.y1
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(CAST(ROUND(p1 * CAST(q0 AS DOUBLE), 4) AS DECIMAL(28,6)))
              AS DOUBLE) AS s_p1q0,
         CAST(SUM(CAST(ROUND(p0 * CAST(q0 AS DOUBLE), 4) AS DECIMAL(28,6)))
              AS DOUBLE) AS s_p0q0,
         CAST(SUM(CAST(ROUND(p1 * CAST(q1 AS DOUBLE), 4) AS DECIMAL(28,6)))
              AS DOUBLE) AS s_p1q1,
         CAST(SUM(CAST(ROUND(p0 * CAST(q1 AS DOUBLE), 4) AS DECIMAL(28,6)))
              AS DOUBLE) AS s_p0q1
  FROM matched
)
SELECT n_parts,
       ROUND(s_p1q0 / s_p0q0, 6) AS laspeyres,
       ROUND(s_p1q1 / s_p0q1, 6) AS paasche,
       ROUND(sqrt((s_p1q0 / s_p0q0) * (s_p1q1 / s_p0q1)), 6) AS fisher
FROM sums
"""


@declare(
    "q_laspeyres_paasche",
    oracle=QIDX_ORACLE,
    description="Laspeyres / Paasche / Fisher price indices between the first and last order years over parts traded in both periods — exact decimal value/quantity aggregates, rounded-addend revaluation sums (index numbers [ext])",
)
def q_laspeyres_paasche(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    li, o = t["lineitem"], t["orders"]
    yr = o.agg(
        F.min(F.year("o_orderdate")).alias("y0"),
        F.max(F.year("o_orderdate")).alias("y1"),
    )
    pp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .crossJoin(F.broadcast(yr))
        .filter(
            (F.year("o_orderdate") == F.col("y0"))
            | (F.year("o_orderdate") == F.col("y1"))
        )
        .groupBy(
            F.col("l_partkey").alias("pk"), F.year("o_orderdate").alias("y")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("v"),
        )
    )
    px = pp.select(
        "pk", "y", "q", (F.col("v").cast("double") / F.col("q").cast("double")).alias("p")
    )
    px = px.localCheckpoint(eager=True)  # both period sides share it
    b = px.select(
        F.col("pk").alias("bpk"),
        F.col("y").alias("by"),
        F.col("q").alias("q1"),
        F.col("p").alias("p1"),
    )
    matched = (
        px.crossJoin(F.broadcast(yr))
        .filter(F.col("y") == F.col("y0"))
        .join(b, F.col("bpk") == F.col("pk"))
        .filter(F.col("by") == F.col("y1"))
        .select(
            "pk",
            F.col("q").alias("q0"),
            F.col("p").alias("p0"),
            "q1",
            "p1",
        )
    )

    def rsum(expr, alias):
        return (
            F.sum(F.round(expr, 4).cast("decimal(28,6)"))
            .cast("double")
            .alias(alias)
        )

    sums = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        rsum(F.col("p1") * F.col("q0").cast("double"), "s_p1q0"),
        rsum(F.col("p0") * F.col("q0").cast("double"), "s_p0q0"),
        rsum(F.col("p1") * F.col("q1").cast("double"), "s_p1q1"),
        rsum(F.col("p0") * F.col("q1").cast("double"), "s_p0q1"),
    )
    return sums.select(
        "n_parts",
        F.round(F.col("s_p1q0") / F.col("s_p0q0"), 6).alias("laspeyres"),
        F.round(F.col("s_p1q1") / F.col("s_p0q1"), 6).alias("paasche"),
        F.round(
            F.sqrt(
                (F.col("s_p1q0") / F.col("s_p0q0"))
                * (F.col("s_p1q1") / F.col("s_p0q1"))
            ),
            6,
        ).alias("fisher"),
    )


QLIFT_ORACLE = """
WITH s AS (
  SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                              CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)
           % 2 AS part,
         CAST(l_quantity AS BIGINT) AS band,
         CAST(l_returnflag = 'R' AS INT) AS y
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
    AND l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
), model AS (
  SELECT band, ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS p_hat
  FROM s WHERE part = 0 GROUP BY band
), fallback AS (
  SELECT ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS p_glob
  FROM s WHERE part = 0
), test AS (
  SELECT COALESCE(m.p_hat, f.p_glob) AS p_hat, t.y
  FROM s t LEFT JOIN model m USING (band) CROSS JOIN fallback f
  WHERE t.part = 1
), cells AS (
  SELECT p_hat, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM test GROUP BY p_hat
), ecdf AS (
  SELECT p_hat, n, pos,
         SUM(n) OVER (ORDER BY p_hat DESC) AS cum,
         SUM(n) OVER () AS tot,
         SUM(pos) OVER () AS tot_pos
  FROM cells
), bucketed AS (
  SELECT LEAST(CAST(ceil(CAST(cum AS DOUBLE) * 10 / tot) AS BIGINT), 10)
           AS decile,
         n, pos, tot, tot_pos
  FROM ecdf
), agg AS (
  SELECT decile, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS pos,
         MIN(tot) AS tot, MIN(tot_pos) AS tot_pos
  FROM bucketed GROUP BY decile
)
SELECT decile, n, pos,
       ROUND(CAST(pos AS DOUBLE) / n, 6) AS response_rate,
       ROUND((CAST(pos AS DOUBLE) / n)
             / (CAST(tot_pos AS DOUBLE) / tot), 6) AS lift,
       ROUND(CAST(SUM(pos) OVER (ORDER BY decile) AS DOUBLE) / tot_pos, 6)
         AS cum_capture
FROM agg
ORDER BY decile
"""


@declare(
    "q_decile_lift",
    oracle=QLIFT_ORACLE,
    description="Model lift/gains table: md5-split band scorer, exact score-ECDF deciles (bounded band domain), per-decile response rate, lift vs base, cumulative positive capture (scorecard eval [ext])",
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): split key, band, and label
    # must be defined — concat_ws skips a NULL key part where SQL ||
    # propagates it (same fence as q_brier_calibration)
    li = li.filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    part = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    s = li.select(
        part.alias("part"),
        F.col("l_quantity").cast("long").alias("band"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    s = s.localCheckpoint(eager=True)
    train = s.filter(F.col("part") == 0)
    model = train.groupBy("band").agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("p_hat")
    )
    fallback = train.agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("p_glob")
    )
    test = (
        s.filter(F.col("part") == 1)
        .join(F.broadcast(model), "band", "left")
        .crossJoin(F.broadcast(fallback))
        .select(F.coalesce(F.col("p_hat"), F.col("p_glob")).alias("p_hat"), "y")
    )
    cells = test.groupBy("p_hat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    wd = Window.orderBy(F.col("p_hat").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    ecdf = (
        cells.withColumn("cum", F.sum("n").over(wd))
        .withColumn("tot", F.sum("n").over(wall))
        .withColumn("tot_pos", F.sum("pos").over(wall))
    )
    bucketed = ecdf.select(
        F.least(
            F.ceil(F.col("cum").cast("double") * 10 / F.col("tot")).cast("long"),
            F.lit(10),
        ).alias("decile"),
        "n",
        "pos",
        "tot",
        "tot_pos",
    )
    agg = bucketed.groupBy("decile").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("pos"),
        F.min("tot").alias("tot"),
        F.min("tot_pos").alias("tot_pos"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return agg.select(
        "decile",
        "n",
        "pos",
        F.round(F.col("pos").cast("double") / F.col("n"), 6).alias("response_rate"),
        F.round(
            (F.col("pos").cast("double") / F.col("n"))
            / (F.col("tot_pos").cast("double") / F.col("tot")),
            6,
        ).alias("lift"),
        F.round(
            F.sum("pos").over(wcum).cast("double") / F.col("tot_pos"), 6
        ).alias("cum_capture"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Youden-J / cost threshold table: per distinct score threshold the
# confusion rates, J = TPR − FPR, and an asymmetric expected cost —
# the operating-point selector that closes the scorer-eval battery
# (AUC, AP, lift, Brier, confusion, now the threshold choice).

QYOUDEN_ORACLE = """
WITH s AS (
  SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
                              CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)
           % 2 AS part,
         CAST(l_quantity AS BIGINT) AS band,
         CAST(l_returnflag = 'R' AS INT) AS y
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
    AND l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
), model AS (
  SELECT band, ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS p_hat
  FROM s WHERE part = 0 GROUP BY band
), fallback AS (
  SELECT ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS p_glob
  FROM s WHERE part = 0
), test AS (
  SELECT COALESCE(m.p_hat, f.p_glob) AS p_hat, t.y
  FROM s t LEFT JOIN model m USING (band) CROSS JOIN fallback f
  WHERE t.part = 1
), cells AS (
  SELECT p_hat, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM test GROUP BY p_hat
), cum AS (
  SELECT p_hat,
         SUM(pos) OVER (ORDER BY p_hat DESC) AS tp,
         SUM(n - pos) OVER (ORDER BY p_hat DESC) AS fp,
         SUM(pos) OVER () AS tot_pos,
         SUM(n - pos) OVER () AS tot_neg
  FROM cells
)
SELECT p_hat AS threshold,
       ROUND(CAST(tp AS DOUBLE) / tot_pos, 6) AS tpr,
       ROUND(CAST(fp AS DOUBLE) / tot_neg, 6) AS fpr,
       ROUND(CAST(tp AS DOUBLE) / tot_pos - CAST(fp AS DOUBLE) / tot_neg, 6)
         AS youden_j,
       CAST(5 * fp + 1 * (tot_pos - tp) AS BIGINT) AS exp_cost_5to1
FROM cum
ORDER BY threshold DESC
"""


@declare(
    "q_youden_threshold",
    oracle=QYOUDEN_ORACLE,
    description="Youden-J / asymmetric-cost operating-point table of the md5-split band scorer over the bounded distinct-score thresholds — the threshold selector closing the scorer-eval battery (ML eval [ext])",
)
def q_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): same fence as
    # q_brier_calibration — concat_ws vs || on a NULL split-key part
    li = li.filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    part = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    s = li.select(
        part.alias("part"),
        F.col("l_quantity").cast("long").alias("band"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    s = s.localCheckpoint(eager=True)
    train = s.filter(F.col("part") == 0)
    model = train.groupBy("band").agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("p_hat")
    )
    fallback = train.agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("p_glob")
    )
    test = (
        s.filter(F.col("part") == 1)
        .join(F.broadcast(model), "band", "left")
        .crossJoin(F.broadcast(fallback))
        .select(F.coalesce(F.col("p_hat"), F.col("p_glob")).alias("p_hat"), "y")
    )
    cells = test.groupBy("p_hat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    wd = Window.orderBy(F.col("p_hat").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum = (
        cells.withColumn("tp", F.sum("pos").over(wd))
        .withColumn("fp", F.sum(F.col("n") - F.col("pos")).over(wd))
        .withColumn("tot_pos", F.sum("pos").over(wall))
        .withColumn("tot_neg", F.sum(F.col("n") - F.col("pos")).over(wall))
    )
    tpr = F.col("tp").cast("double") / F.col("tot_pos")
    fpr = F.col("fp").cast("double") / F.col("tot_neg")
    return cum.select(
        F.col("p_hat").alias("threshold"),
        F.round(tpr, 6).alias("tpr"),
        F.round(fpr, 6).alias("fpr"),
        F.round(tpr - fpr, 6).alias("youden_j"),
        (5 * F.col("fp") + (F.col("tot_pos") - F.col("tp")))
        .cast("long")
        .alias("exp_cost_5to1"),
    ).orderBy(F.col("threshold").desc())
