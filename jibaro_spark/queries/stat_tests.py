"""Statistical-test declared queries: parametric and rank tests
(t, ANOVA, Kruskal-Wallis, Mann-Whitney, KS, Friedman), contingency
and agreement measures, correlation, multiple-testing correction and
experiment screens.

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.registry import _md5_mod, _sql_md5_mod, declare, load_tables


# ---------------------------------------------------------------------------
# Correlation / covariance / least-squares slope from DECIMAL-EXACT
# moments.  Built-in corr()/covar() accumulate doubles in engine-
# specific order (never hash-stable cross-engine); sums of decimal-cast
# products are exact, and the closed-form combination is a single
# double expression with identical operand order.  The quantity and
# price·quantity products carry ≤ 4 fractional digits and fit a
# double's 53-bit mantissa exactly, so the cast loses nothing.
QCORR_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       ROUND(((n * sxy) - (sx * sy)) / (n * (n - 1.0)), 6) AS covar_samp,
       ROUND(((n * sxy) - (sx * sy))
             / (SQRT((n * sxx) - (sx * sx)) * SQRT((n * syy) - (sy * sy))), 6) AS corr,
       ROUND(((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx)), 6) AS slope,
       ROUND((sy - ((((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx))) * sx)) / n, 6) AS intercept
FROM m
ORDER BY l_returnflag
"""


@declare(
    "q_corr_stats",
    oracle=QCORR_ORACLE,
    description="corr/covar/regression from decimal-exact moments — cross-engine-deterministic (A9 [ext])",
)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # project + hash-spread before the 5-term decimal moment agg (r12,
    # the PCA moment-pass treatment — the map-side partials otherwise
    # run on the single-row-group scan's ONE core; decimal sums are
    # order-free exact, so placement cannot change a moment)
    from jibaro_spark.operators.util import ensure_parallelism

    li = ensure_parallelism(
        li.select("l_returnflag", "l_quantity", "l_extendedprice"),
        by="l_extendedprice",
    )
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(28,4)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(28,4)")).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(28,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(28,4)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(28,4)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = ((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx))
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        F.round(((n * sxy) - (sx * sy)) / (n * (n - F.lit(1.0))), 6).alias(
            "covar_samp"
        ),
        F.round(
            ((n * sxy) - (sx * sy))
            / (
                F.sqrt((n * sxx) - (sx * sx)) * F.sqrt((n * syy) - (sy * sy))
            ),
            6,
        ).alias("corr"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - (slope * sx)) / n, 6).alias("intercept"),
    ).orderBy("l_returnflag")


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
# Welch two-sample t-test (unequal variances) on an A/B split of order
# values.  Group = o_orderkey parity (deterministic assignment).  All
# moments come from EXACT decimal sums (o_totalprice has 2 decimals →
# x² has 4 → Σ and Σx² are exact in DECIMAL(38,4)); the t statistic
# and Welch–Satterthwaite df are then single deterministic double
# expressions over those exact inputs — no engine-order-dependent
# float summation anywhere.
QWELCH_ORACLE = """
WITH g AS (
  SELECT o_orderkey % 2 AS grp,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
  FROM orders GROUP BY 1
), m AS (
  SELECT grp, n, sx / n AS mean, (sxx - sx * sx / n) / (n - 1) AS var
  FROM g
), ab AS (
  SELECT MAX(CASE WHEN grp = 0 THEN n END) AS na,
         MAX(CASE WHEN grp = 1 THEN n END) AS nb,
         MAX(CASE WHEN grp = 0 THEN mean END) AS ma,
         MAX(CASE WHEN grp = 1 THEN mean END) AS mb,
         MAX(CASE WHEN grp = 0 THEN var END) AS va,
         MAX(CASE WHEN grp = 1 THEN var END) AS vb
  FROM m
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(ma, 4) AS mean_a, ROUND(mb, 4) AS mean_b,
       ROUND((ma - mb) / SQRT(va / na + vb / nb), 6) AS t_stat,
       ROUND((va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)), 2) AS welch_df
FROM ab
"""


@declare(
    "q_ab_welch_ttest",
    oracle=QWELCH_ORACLE,
    description="Welch unequal-variance two-sample t-test over a deterministic A/B order split — exact-decimal moments, single-expression statistic (stats [ext])",
)
def q_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    g = (
        orders.groupBy((F.col("o_orderkey") % 2).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).cast("double").alias("sx"),
            F.sum(dec * dec).cast("double").alias("sxx"),
        )
        .select(
            "grp",
            "n",
            (F.col("sx") / F.col("n")).alias("mean"),
            ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("var"),
        )
    )
    ab = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == 0, F.col("mean"))).alias("ma"),
        F.max(F.when(F.col("grp") == 1, F.col("mean"))).alias("mb"),
        F.max(F.when(F.col("grp") == 0, F.col("var"))).alias("va"),
        F.max(F.when(F.col("grp") == 1, F.col("var"))).alias("vb"),
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    return ab.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("ma", 4).alias("mean_a"),
        F.round("mb", 4).alias("mean_b"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            se2
            * se2
            / (
                (F.col("va") / F.col("na")) * (F.col("va") / F.col("na")) / (F.col("na") - 1)
                + (F.col("vb") / F.col("nb")) * (F.col("vb") / F.col("nb")) / (F.col("nb") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test cells: o_orderpriority × o_orderstatus
# contingency table with expected counts and standardized (adjusted)
# residuals.  Everything derives from integer counts; each float
# output is one deterministic expression over them.
QCHISQ_ORACLE = """
WITH cells AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS status,
         COUNT(*) AS obs
  FROM orders GROUP BY 1, 2
), tot AS (
  SELECT c.priority, c.status, c.obs,
         SUM(c.obs) OVER (PARTITION BY c.priority) AS rt,
         SUM(c.obs) OVER (PARTITION BY c.status) AS ct,
         SUM(c.obs) OVER () AS n
  FROM cells c
)
SELECT priority, status, CAST(obs AS BIGINT) AS obs,
       ROUND(CAST(rt AS DOUBLE) * ct / n, 4) AS expected,
       ROUND((obs - CAST(rt AS DOUBLE) * ct / n)
             / SQRT(CAST(rt AS DOUBLE) * ct / n
                    * (1 - CAST(rt AS DOUBLE) / n)
                    * (1 - CAST(ct AS DOUBLE) / n)), 6) AS adj_residual
FROM tot
ORDER BY priority, status
"""


@declare(
    "q_chisq_residuals",
    oracle=QCHISQ_ORACLE,
    description="chi-square contingency cells with expected counts and adjusted residuals for priority × status — independence screening from pure integer counts (stats [ext])",
)
def q_chisq_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    wr = Window.partitionBy("priority")
    wc = Window.partitionBy("status")
    wn = Window.partitionBy()
    t = (
        cells.withColumn("rt", F.sum("obs").over(wr))
        .withColumn("ct", F.sum("obs").over(wc))
        .withColumn("n", F.sum("obs").over(wn))
    )
    exp = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    return t.select(
        "priority",
        "status",
        F.col("obs").cast("long").alias("obs"),
        F.round(exp, 4).alias("expected"),
        F.round(
            (F.col("obs") - exp)
            / F.sqrt(
                exp
                * (1 - F.col("rt").cast("double") / F.col("n"))
                * (1 - F.col("ct").cast("double") / F.col("n"))
            ),
            6,
        ).alias("adj_residual"),
    ).orderBy("priority", "status")


# ---------------------------------------------------------------------------
# Benford first-digit screening of order values.  The leading digit is
# extracted with exact integer arithmetic (floor to BIGINT, digit
# count via the decimal string length, one exact power-of-ten
# division) — no log10 near-boundary hazards.
QBENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(FLOOR(CAST(FLOOR(o_totalprice) AS BIGINT)
              / POWER(10, LENGTH(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR)) - 1))
         AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
), c AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
), t AS (SELECT SUM(n) AS tot FROM c)
SELECT digit, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n AS DOUBLE) / tot, 6) AS observed_p,
       ROUND(LOG10(1 + 1.0 / digit), 6) AS benford_p,
       ROUND(CAST(n AS DOUBLE) / tot - LOG10(1 + 1.0 / digit), 6) AS delta_p
FROM c CROSS JOIN t
ORDER BY digit
"""


@declare(
    "q_benford_digits",
    oracle=QBENFORD_ORACLE,
    description="Benford's-law first-digit distribution of order totals vs log10(1+1/d) expectation — fraud/quality screening with exact digit extraction (stats [ext])",
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    ip = F.floor("o_totalprice").cast("long")
    digit = F.floor(ip / F.pow(F.lit(10), F.length(ip.cast("string")) - 1)).cast("long")
    c = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").alias("tot"))
    bp = F.log10(1 + 1.0 / F.col("digit"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("observed_p"),
            F.round(bp, 6).alias("benford_p"),
            F.round(F.col("n").cast("double") / F.col("tot") - bp, 6).alias("delta_p"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Mutual-information cells between l_returnflag and l_linestatus:
# pointwise MI ln((n_ij·n)/(n_i·n_j)) and the cell's contribution
# (n_ij/n)·pmi — all ratios of exact integer counts (the products stay
# within BIGINT at any SF that fits row counts in BIGINT, and the
# ln/division is one deterministic double expression).
QMI_ORACLE = """
WITH c AS (
  SELECT l_returnflag AS flag, l_linestatus AS status, COUNT(*) AS nij
  FROM lineitem GROUP BY 1, 2
), t AS (
  SELECT c.flag, c.status, c.nij,
         SUM(c.nij) OVER (PARTITION BY c.flag) AS ni,
         SUM(c.nij) OVER (PARTITION BY c.status) AS nj,
         SUM(c.nij) OVER () AS n
  FROM c
)
SELECT flag, status, CAST(nij AS BIGINT) AS n_ij,
       ROUND(LN(CAST(nij AS DOUBLE) * n / (CAST(ni AS DOUBLE) * nj)), 6) AS pmi,
       ROUND(CAST(nij AS DOUBLE) / n
             * LN(CAST(nij AS DOUBLE) * n / (CAST(ni AS DOUBLE) * nj)), 6)
         AS mi_contrib
FROM t
ORDER BY flag, status
"""


@declare(
    "q_mutual_info_cells",
    oracle=QMI_ORACLE,
    description="pointwise mutual information and MI contribution per (returnflag, linestatus) cell — categorical dependence screening from integer counts (stats [ext])",
)
def q_mutual_info_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    c = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status")
    ).agg(F.count(F.lit(1)).alias("nij"))
    wi = Window.partitionBy("flag")
    wj = Window.partitionBy("status")
    wn = Window.partitionBy()
    t = (
        c.withColumn("ni", F.sum("nij").over(wi))
        .withColumn("nj", F.sum("nij").over(wj))
        .withColumn("n", F.sum("nij").over(wn))
    )
    pmi = F.log(F.col("nij").cast("double") * F.col("n") / (F.col("ni").cast("double") * F.col("nj")))
    return t.select(
        "flag",
        "status",
        F.col("nij").cast("long").alias("n_ij"),
        F.round(pmi, 6).alias("pmi"),
        F.round(F.col("nij").cast("double") / F.col("n") * pmi, 6).alias("mi_contrib"),
    ).orderBy("flag", "status")


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
# Two-sample Kolmogorov-Smirnov ([ext] stats).  D statistic between
# the order-value distributions of every pair of order priorities.
# The ECDF difference is computed in INTEGER arithmetic —
# D = max|cumA*nB - cumB*nA| / (nA*nB) — so the max is exact and only
# the final division is floating point.  Plan: counts per
# (priority, price) first (map-side combine), a 10-way pair fan-out of
# that distinct-value-sized table, one window per pair.  Completes the
# rank-test family (Welch t, Mann-Whitney U, Kruskal-Wallis).
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
# Cohen's kappa ([ext] annotation QA).  Annotator A is the fixture's
# lang label; annotator B is a deterministic degradation that
# relabels 10% of docs (md5 bucket) to the majority class 'en' — the
# canonical "second annotator defaults to the easy label" failure.
# po/pe come from exact integer confusion counts; the expected-
# agreement products run in DECIMAL(38,0) (BIGINT would wrap at
# ~1e12-doc margins, the ADVICE r5 overflow pattern).  One scan, two
# class-sized group-bys, single-row output.
QKAPPA_ORACLE = f"""
WITH d AS (
  SELECT lang AS a,
         CASE WHEN {_sql_md5_mod('doc_id', 'k', 10)} = 0 THEN 'en' ELSE lang END AS b
  FROM documents
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM d
), ma AS (
  SELECT a AS cls, CAST(COUNT(*) AS BIGINT) AS na FROM d GROUP BY a
), mb AS (
  SELECT b AS cls, CAST(COUNT(*) AS BIGINT) AS nb FROM d GROUP BY b
), pe AS (
  SELECT CAST(SUM(CAST(ma.na AS DECIMAL(38,0)) * mb.nb) AS DECIMAL(38,0)) AS pe_num
  FROM ma JOIN mb USING (cls)
)
SELECT tot.n AS n_docs,
       ROUND(CAST(tot.n_agree AS DOUBLE) / tot.n, 6) AS po,
       ROUND(CAST(pe.pe_num AS DOUBLE)
             / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)), 6) AS pe,
       ROUND((CAST(tot.n_agree AS DOUBLE) / tot.n
              - CAST(pe.pe_num AS DOUBLE) / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)))
             / (1.0 - CAST(pe.pe_num AS DOUBLE) / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE))), 6) AS kappa
FROM tot, pe
"""


@declare(
    "q_cohen_kappa",
    oracle=QKAPPA_ORACLE,
    description="Cohen's kappa between the lang label and a 10%-degraded second annotator: exact integer confusion margins, DECIMAL(38,0) expected-agreement products (annotation QA [ext])",
)
def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = docs.select(
        F.col("lang").alias("a"),
        F.when(_md5_mod(F.col("doc_id"), "k", 10) == 0, F.lit("en"))
        .otherwise(F.col("lang"))
        .alias("b"),
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
    )
    ma = d.groupBy(F.col("a").alias("cls")).agg(
        F.count(F.lit(1)).cast("bigint").alias("na")
    )
    mb = d.groupBy(F.col("b").alias("cls")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    pe = (
        ma.join(mb, "cls")
        .agg(
            F.sum(F.col("na").cast("decimal(38,0)") * F.col("nb"))
            .cast("decimal(38,0)")
            .alias("pe_num")
        )
    )
    j = tot.crossJoin(pe)
    n_d = F.col("n").cast("double")
    po = F.col("n_agree").cast("double") / n_d
    pe_v = F.col("pe_num").cast("double") / (n_d * n_d)
    return j.select(
        F.col("n").alias("n_docs"),
        F.round(po, 6).alias("po"),
        F.round(pe_v, 6).alias("pe"),
        F.round((po - pe_v) / (F.lit(1.0) - pe_v), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# 1-D Wasserstein (earth-mover) distance between every order-priority
# pair's price distribution — the integral companion to q_ks_test's
# max ECDF gap: W1 = ∫|F_a − F_b| dv on the pooled value grid.  The
# per-gap term |ca·nb − cb·na| · Δv runs integer-exact (counts cross-
# multiplied, gaps in cents) and DECIMAL(38,0)-summed; one double
# division at display.  Same bounded-pair-key window shape as the KS
# test (10 pairs), same pooled fan-out bound.
QW1_ORACLE = """
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
  SELECT pa, pb, v,
         SUM(da) OVER (PARTITION BY pa, pb ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(db) OVER (PARTITION BY pa, pb ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         SUM(da) OVER (PARTITION BY pa, pb) AS na,
         SUM(db) OVER (PARTITION BY pa, pb) AS nb,
         CAST((LEAD(v) OVER (PARTITION BY pa, pb ORDER BY v) - v) * 100
              AS BIGINT) AS dv_cents
  FROM pooled
)
SELECT pa, pb,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       ROUND(CAST(SUM(CAST(abs(ca * nb - cb * na) * dv_cents AS DECIMAL(38,0)))
                  AS DOUBLE)
             / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE) * 100.0),
             6) AS w1
FROM c
GROUP BY pa, pb
ORDER BY pa, pb
"""


@declare(
    "q_wasserstein_1d",
    oracle=QW1_ORACLE,
    description="1-D Wasserstein distance for every order-priority pair: integer-exact ECDF-gap-times-cents terms, DECIMAL(38,0) sum (stats [ext])",
)
def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    ordw = Window.partitionBy("pa", "pb").orderBy("v")
    cum = ordw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pw = Window.partitionBy("pa", "pb")
    # explicit pair-keyed exchange (r12, the q_ks_test treatment —
    # same pooled-pair ECDF shape; AQE otherwise coalesces the 10 pair
    # groups onto 2-3 tasks for the CPU-dense cum/lead windows)
    from jibaro_spark.operators.util import dense_exchange

    pooled = dense_exchange(pooled, "pa", "pb")
    c = pooled.select(
        "pa",
        "pb",
        F.sum("da").over(cum).alias("ca"),
        F.sum("db").over(cum).alias("cb"),
        F.sum("da").over(pw).alias("na"),
        F.sum("db").over(pw).alias("nb"),
        ((F.lead("v").over(ordw) - F.col("v")) * 100).cast("bigint").alias("dv_cents"),
    )
    term = (F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")) * F.col("dv_cents")).cast(
        "decimal(38,0)"
    )
    return (
        c.groupBy("pa", "pb")
        .agg(
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
            F.round(
                F.sum(term).cast("double")
                / (F.max("na").cast("double") * F.max("nb").cast("double") * F.lit(100.0)),
                6,
            ).alias("w1"),
        )
        .orderBy("pa", "pb")
    )


# ---------------------------------------------------------------------------
# Herfindahl–Hirschman supplier concentration per nation ([ext]
# analytics/ops): each supplier's share of its nation's lineitem
# revenue, HHI = Σ share².  Revenue stays decimal-exact through the
# supplier aggregate; shares are double ratios of exact decimals and
# the share² terms are per-term rounded then DECIMAL-summed (order-
# free).  Plan: one lineitem scan, suppkey shuffle, broadcast
# supplier→nation dims, 25-row output.
QHHI_ORACLE = """
WITH rev AS (
  SELECT s.s_nationkey,
         l.l_suppkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS r
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), tot AS (
  SELECT s_nationkey, SUM(r) AS rt, COUNT(*) AS n_suppliers FROM rev GROUP BY 1
)
SELECT n.n_name,
       CAST(tot.n_suppliers AS BIGINT) AS n_suppliers,
       ROUND(CAST(SUM(CAST(ROUND(
                 (CAST(rev.r AS DOUBLE) / CAST(tot.rt AS DOUBLE))
               * (CAST(rev.r AS DOUBLE) / CAST(tot.rt AS DOUBLE)), 10)
             AS DECIMAL(18,10))) AS DOUBLE), 6) AS hhi
FROM rev
JOIN tot USING (s_nationkey)
JOIN nation n ON n.n_nationkey = rev.s_nationkey
GROUP BY n.n_name, tot.n_suppliers
ORDER BY n.n_name
"""


@declare(
    "q_hhi_concentration",
    oracle=QHHI_ORACLE,
    description="Herfindahl-Hirschman supplier revenue concentration per nation: decimal-exact revenue, decimal-summed share-squared terms (analytics [ext])",
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    li, sup, nat = t["lineitem"], t["supplier"], t["nation"]
    dprice = F.col("l_extendedprice").cast("decimal(18,4)")
    ddisc = F.col("l_discount").cast("decimal(18,4)")
    rev = (
        li.join(F.broadcast(sup.select("s_suppkey", "s_nationkey")),
                li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(dprice * (F.lit(1) - ddisc)).alias("r"))
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("r").alias("rt"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share = F.col("r").cast("double") / F.col("rt").cast("double")
    term = F.round(share * share, 10).cast("decimal(18,10)")
    return (
        rev.join(tot, "s_nationkey")
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name", "n_suppliers")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("hhi"))
        .select(
            "n_name",
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            "hhi",
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# A/B power analysis: minimum detectable effect ([ext] experimentation
# design — the question asked BEFORE the test runs, completing the
# family around q_srm_check / q_ab_welch_ttest / q_cuped_adjust).  Per
# priority: md5-nibble 50/50 arms (the q_srm_check split), pooled sd
# from exact DECIMAL(38,4) moments, and the two-sided α=0.05 /
# 80%-power MDE = (z_{α/2}+z_β)·sd·√(1/n_a+1/n_b) with the z literals
# written identically in both engines.  One grouped scan; the MDE is
# a single double expression over exact integer/decimal inputs.
QMDE_ORACLE = """
WITH s AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sm,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sq
  FROM orders GROUP BY 1
), m AS (
  SELECT o_orderpriority, n_a, n - n_a AS n_b,
         SQRT((sq - sm * sm / n) / (n - 1)) AS sd,
         sm / n AS mean
  FROM s
)
SELECT o_orderpriority, n_a, n_b,
       ROUND(sd, 6) AS sd_price,
       ROUND((1.959964 + 0.841621) * sd
             * SQRT(1.0 / n_a + 1.0 / n_b), 6) AS mde_abs,
       ROUND((1.959964 + 0.841621) * sd
             * SQRT(1.0 / n_a + 1.0 / n_b) / mean, 6) AS mde_rel
FROM m
ORDER BY o_orderpriority
"""


@declare(
    "q_ab_power_mde",
    oracle=QMDE_ORACLE,
    description="pre-test A/B power analysis: minimum detectable effect per priority at α=0.05 / 80% power from exact decimal moments and the md5 arm split (experimentation [ext])",
)
def q_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    in_a = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin(
        *"01234567"
    )
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(in_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(dec).cast("double").alias("sm"),
        F.sum(dec * dec).cast("double").alias("sq"),
    )
    nd = F.col("n").cast("double")
    sd = F.sqrt((F.col("sq") - F.col("sm") * F.col("sm") / nd) / (nd - 1))
    mean = F.col("sm") / nd
    n_b = (F.col("n") - F.col("n_a")).cast("long")
    half = (
        F.lit(1.959964 + 0.841621)
        * sd
        * F.sqrt(1.0 / F.col("n_a") + 1.0 / n_b.cast("double"))
    )
    return s.select(
        "o_orderpriority",
        "n_a",
        n_b.alias("n_b"),
        F.round(sd, 6).alias("sd_price"),
        F.round(half, 6).alias("mde_abs"),
        F.round(half / mean, 6).alias("mde_rel"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Spearman rank correlation per priority ([ext] stats — the rank
# sibling of the decimal-exact Pearson in q_corr_stats).  Tie-averaged ranks
# are computed counts-first: collapse to distinct (pr, value) cells,
# one cumulative window over the cell table (≤ #distinct values rows),
# then join the integer "double-rank" 2·r = 2·cum − cnt + 1 back to
# the rows by (pr, value).  Every moment (n, Σr, Σr², Σ r_x·r_y) is an
# exact integer accumulated in DECIMAL(38,0)/HUGEINT; ρ is one double
# expression over those integers.

QSP_ORACLE = """
WITH b AS (
  SELECT o_orderpriority AS pr,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS y
  FROM orders
), rx AS (
  SELECT pr, x, 2 * SUM(COUNT(*)) OVER (PARTITION BY pr ORDER BY x)
               - COUNT(*) + 1 AS r2
  FROM b GROUP BY pr, x
), ry AS (
  SELECT pr, y, 2 * SUM(COUNT(*)) OVER (PARTITION BY pr ORDER BY y)
               - COUNT(*) + 1 AS r2
  FROM b GROUP BY pr, y
), ranked AS (
  SELECT b.pr, CAST(rx.r2 AS HUGEINT) AS ax, CAST(ry.r2 AS HUGEINT) AS ay
  FROM b JOIN rx ON b.pr = rx.pr AND b.x = rx.x
         JOIN ry ON b.pr = ry.pr AND b.y = ry.y
), m AS (
  SELECT pr, COUNT(*) AS n,
         SUM(ax) AS sx, SUM(ay) AS sy,
         SUM(ax * ax) AS sxx, SUM(ay * ay) AS syy,
         SUM(ax * ay) AS sxy
  FROM ranked GROUP BY pr
)
SELECT pr, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
FROM m ORDER BY pr
"""


@declare(
    "q_spearman_corr",
    oracle=QSP_ORACLE,
    description="Spearman rank correlation (price vs order day) per priority from integer double-ranks over distinct-value cells — exact integer moments, one double formula (stats [ext])",
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    b = o.select(
        F.col("o_orderpriority").alias("pr"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("x"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("y"),
    )

    def double_ranks(col: str) -> DataFrame:
        cum = (
            Window.partitionBy("pr")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # explicit pr-keyed exchange (r12, see dense_exchange): the
        # rank window runs per priority class (5 groups) over ~10^5
        # distinct values and AQE's byte-based coalescing otherwise
        # collapses it below 5 tasks (the q_ks_test pattern)
        from jibaro_spark.operators.util import dense_exchange

        return (
            dense_exchange(
                b.groupBy("pr", col).agg(F.count(F.lit(1)).alias("cnt")), "pr"
            )
            .select(
                "pr",
                col,
                (2 * F.sum("cnt").over(cum) - F.col("cnt") + 1).alias("r2"),
            )
        )

    rx = double_ranks("x").withColumnRenamed("r2", "ax")
    ry = double_ranks("y").withColumnRenamed("r2", "ay")
    ranked = b.join(rx, ["pr", "x"]).join(ry, ["pr", "y"])
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = ranked.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("ax")).alias("sx"),
        F.sum(d("ay")).alias("sy"),
        F.sum(d("ax") * F.col("ax")).alias("sxx"),
        F.sum(d("ay") * F.col("ay")).alias("syy"),
        F.sum(d("ax") * F.col("ay")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        "pr",
        F.col("n").cast("long").alias("n"),
        F.round(num / (denx * deny), 6).alias("rho"),
    ).orderBy("pr")


# ---------------------------------------------------------------------------
# Kendall tau-b per priority over a fixed 10×10 grid ([ext] stats).
# The row volume collapses map-side to ≤ pr×100 cell counts; the
# densified grid then supports STRICT 2-D suffix/prefix sums with two
# window passes (Σ_{i'>i} per column, then Σ_{j'>j} / Σ_{j'<j} per
# row) — concordant C = Σ n·D, discordant = Σ n·E, no cell×cell join
# anywhere.  Tie corrections n1/n2 come from the marginals; the tau-b
# denominator is one exact integer product cast to double under a
# sqrt.

_DB = "least(greatest((y - 9100) div 280, 0), 9)"  # epoch-day → 0..9
_PB = "least((x * 10) div 60000000, 9)"  # cents → 0..9

QKT_ORACLE = f"""
WITH b AS (
  SELECT o_orderpriority AS pr,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS y
  FROM orders
), cells AS (
  SELECT pr, LEAST((x * 10) // 60000000, 9) AS i,
         LEAST(GREATEST((y - 9100) // 280, 0), 9) AS j,
         COUNT(*) AS cnt
  FROM b GROUP BY 1, 2, 3
), gridbase AS (
  SELECT p.pr, gi.range AS i, gj.range AS j
  FROM (SELECT DISTINCT pr FROM cells) p, range(0, 10) gi, range(0, 10) gj
), grid AS (
  SELECT g.pr, g.i, g.j, COALESCE(c.cnt, 0) AS cnt
  FROM gridbase g LEFT JOIN cells c ON c.pr = g.pr AND c.i = g.i AND c.j = g.j
), s1 AS (
  SELECT pr, i, j, cnt,
         COALESCE(SUM(cnt) OVER (PARTITION BY pr, j ORDER BY i
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS gt_i
  FROM grid
), s2 AS (
  SELECT pr, i, j, cnt,
         COALESCE(SUM(gt_i) OVER (PARTITION BY pr, i ORDER BY j
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS dom,
         COALESCE(SUM(gt_i) OVER (PARTITION BY pr, i ORDER BY j
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS disc
  FROM s1
), cd AS (
  SELECT pr, SUM(cnt * dom) AS c, SUM(cnt * disc) AS d FROM s2 GROUP BY pr
), mx AS (
  SELECT pr, i, SUM(cnt) AS tx FROM grid GROUP BY pr, i
), marg AS (
  SELECT pr, SUM(tx) AS n, SUM(tx * (tx - 1) // 2) AS n1 FROM mx GROUP BY pr
), my AS (
  SELECT pr, j, SUM(cnt) AS ty FROM grid GROUP BY pr, j
), marg2 AS (
  SELECT pr, SUM(ty * (ty - 1) // 2) AS n2 FROM my GROUP BY pr
)
SELECT cd.pr, CAST(m.n AS BIGINT) AS n,
       CAST(cd.c AS BIGINT) AS concordant,
       CAST(cd.d AS BIGINT) AS discordant,
       ROUND(CAST(cd.c - cd.d AS DOUBLE)
             / SQRT(CAST((CAST(m.n AS HUGEINT) * (m.n - 1) / 2 - m.n1)
                         * (CAST(m.n AS HUGEINT) * (m.n - 1) / 2 - m2.n2)
                    AS DOUBLE)), 6) AS tau_b
FROM cd JOIN marg m ON cd.pr = m.pr JOIN marg2 m2 ON cd.pr = m2.pr
ORDER BY cd.pr
"""


@declare(
    "q_kendall_tau",
    oracle=QKT_ORACLE,
    description="Kendall tau-b per priority over a fixed 10x10 binned grid: 2-D suffix-sum concordance counts (no cell-pair join), integer tie corrections (stats [ext])",
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    b = o.select(
        F.col("o_orderpriority").alias("pr"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("x"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("y"),
    )
    cells = (
        b.select("pr", F.expr(_PB).alias("i"), F.expr(_DB).alias("j"))
        .groupBy("pr", "i", "j")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = (
        cells.select("pr")
        .distinct()
        .select(
            "pr",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("i"),
        )
        .select("pr", "i", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("j"))
        .join(cells, ["pr", "i", "j"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    w_gt_i = (
        Window.partitionBy("pr", "j")
        .orderBy("i")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    s1 = grid.withColumn("gt_i", F.coalesce(F.sum("cnt").over(w_gt_i), F.lit(0)))
    w_dom = (
        Window.partitionBy("pr", "i")
        .orderBy("j")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w_disc = (
        Window.partitionBy("pr", "i")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s2 = s1.select(
        "pr",
        "cnt",
        F.coalesce(F.sum("gt_i").over(w_dom), F.lit(0)).alias("dom"),
        F.coalesce(F.sum("gt_i").over(w_disc), F.lit(0)).alias("disc"),
    )
    cd = s2.groupBy("pr").agg(
        F.sum(F.col("cnt") * F.col("dom")).alias("c"),
        F.sum(F.col("cnt") * F.col("disc")).alias("d"),
    )
    tx = grid.groupBy("pr", "i").agg(F.sum("cnt").alias("tx"))
    marg = tx.groupBy("pr").agg(
        F.sum("tx").alias("n"),
        F.sum(F.expr("tx * (tx - 1) div 2")).alias("n1"),
    )
    ty = grid.groupBy("pr", "j").agg(F.sum("cnt").alias("ty"))
    marg2 = ty.groupBy("pr").agg(F.sum(F.expr("ty * (ty - 1) div 2")).alias("n2"))
    n0 = F.expr("cast(n as decimal(38,0)) * (n - 1) / 2").cast("decimal(38,0)")
    joined = cd.join(marg, "pr").join(marg2, "pr")
    return joined.select(
        "pr",
        F.col("n").cast("long").alias("n"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.round(
            (F.col("c") - F.col("d")).cast("double")
            / F.sqrt(((n0 - F.col("n1")) * (n0 - F.col("n2"))).cast("double")),
            6,
        ).alias("tau_b"),
    ).orderBy("pr")


# ---------------------------------------------------------------------------
# One-way parametric ANOVA across order priorities ([ext] stats — the
# parametric sibling of q_kruskal_wallis).  Sufficient statistics are
# one grouped scan of integer cents; SSB/SSW are assembled from
# ROUND(·,6) addends accumulated in DECIMAL so cross-partition /
# cross-engine addition order is irrelevant; the F statistic is one
# double expression repeated on each group row.

QAF_ORACLE = """
WITH b AS (
  SELECT o_orderpriority AS pr,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM orders
), g AS (
  SELECT pr, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS s,
         SUM(CAST(x AS HUGEINT) * x) AS ss
  FROM b GROUP BY pr
), t AS (
  SELECT COUNT(*) AS k, SUM(n) AS nt, SUM(s) AS st, SUM(ss) AS sst,
         SUM(CAST(ROUND(CAST(s * s AS DOUBLE) / n, 6) AS DECIMAL(38,6))) AS a
  FROM g
), f AS (
  SELECT k, nt,
         CAST(a AS DOUBLE) - ROUND(CAST(st * st AS DOUBLE) / nt, 6) AS ssb,
         CAST(sst AS DOUBLE) - CAST(a AS DOUBLE) AS ssw
  FROM t
)
SELECT g.pr, CAST(g.n AS BIGINT) AS n,
       ROUND(CAST(g.s AS DOUBLE) / g.n / 100, 6) AS mean_price,
       ROUND(f.ssb / (f.k - 1) / (f.ssw / (f.nt - f.k)), 6) AS f_stat
FROM g, f
ORDER BY g.pr
"""


@declare(
    "q_anova_f",
    oracle=QAF_ORACLE,
    description="One-way parametric ANOVA F (price across priorities) from exact integer group moments, rounded-addend decimal SSB/SSW (stats [ext])",
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    b = o.select(
        F.col("o_orderpriority").alias("pr"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    g = b.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("ss"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
        F.sum(
            F.round((F.col("s") * F.col("s")).cast("double") / F.col("n"), 6).cast(
                "decimal(38,6)"
            )
        ).alias("a"),
    )
    f = t.select(
        "k",
        "nt",
        (
            F.col("a").cast("double")
            - F.round((F.col("st") * F.col("st")).cast("double") / F.col("nt"), 6)
        ).alias("ssb"),
        (F.col("sst").cast("double") - F.col("a").cast("double")).alias("ssw"),
    )
    return (
        g.crossJoin(F.broadcast(f))
        .select(
            "pr",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("s").cast("double") / F.col("n") / 100, 6).alias(
                "mean_price"
            ),
            F.round(
                F.col("ssb")
                / (F.col("k") - 1)
                / (F.col("ssw") / (F.col("nt") - F.col("k"))),
                6,
            ).alias("f_stat"),
        )
        .orderBy("pr")
    )


# ---------------------------------------------------------------------------
# McNemar's paired test per source ([ext] stats/eval — comparing two
# classifiers on the SAME items, where the independent-sample tests
# (Welch, chi-square) are wrong).  Both heuristics are exact integer
# predicates so the contingency cells are portable: A = contains
# " the "; B = letter-e mass ≥ 8% of characters (100·count_e ≥
# 8·length, pure integers).  Truth = lang == 'en'.  The statistic
# (b−c)²/(b+c) uses only the discordant cells; continuity-corrected
# variants differ by a constant and are omitted for determinism.

QMC_ORACLE = """
WITH s AS (
  SELECT source,
         (lang = 'en') AS truth,
         (position(' the ' IN lower(text)) > 0) AS pred_a,
         (100 * (length(text) - length(replace(lower(text), 'e', '')))
          >= 8 * length(text)) AS pred_b
  FROM documents
), cells AS (
  SELECT source,
         SUM(CASE WHEN (pred_a = truth) AND (pred_b <> truth) THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN (pred_a <> truth) AND (pred_b = truth) THEN 1 ELSE 0 END) AS c,
         COUNT(*) AS n
  FROM s GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n, CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
       CASE WHEN b + c > 0
            THEN ROUND(CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE), 6)
            ELSE 0.0 END AS mcnemar_stat
FROM cells ORDER BY source
"""


@declare(
    "q_mcnemar",
    oracle=QMC_ORACLE,
    description="McNemar paired test per source: two integer-exact English heuristics vs the lang label, statistic from the discordant cells only (stats/eval [ext])",
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    s = docs.select(
        "source",
        (F.col("lang") == "en").alias("truth"),
        (F.instr(F.lower(F.col("text")), " the ") > 0).alias("pred_a"),
        (
            100
            * (
                F.length("text")
                - F.length(F.replace(F.lower(F.col("text")), F.lit("e"), F.lit("")))
            )
            >= 8 * F.length("text")
        ).alias("pred_b"),
    )
    cells = s.groupBy("source").agg(
        F.sum(
            F.when(
                (F.col("pred_a") == F.col("truth"))
                & (F.col("pred_b") != F.col("truth")),
                1,
            ).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when(
                (F.col("pred_a") != F.col("truth"))
                & (F.col("pred_b") == F.col("truth")),
                1,
            ).otherwise(0)
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    stat = F.when(
        F.col("b") + F.col("c") > 0,
        F.round(
            ((F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))).cast("double")
            / (F.col("b") + F.col("c")).cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return cells.select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        stat.alias("mcnemar_stat"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# One-pass pairwise correlation matrix ([ext] stats — the multi-column
# generalization of q_corr_stats' decimal-exact corr): ONE aggregate over
# lineitem computes every sufficient statistic for the 4 measures
# (cents-scaled integers), and the 6 pair rows are arithmetic over
# that 1-row moment table.  At 100 TB this is the canonical
# "sufficient statistics in a single scan" profile pass — adding
# measures grows the agg width, never the scan count.

_MEAS = ["price", "qty", "disc", "tax"]
_PAIRS = [(a, b) for i, a in enumerate(_MEAS) for b in _MEAS[i + 1 :]]


def _qcm_oracle() -> str:
    sums = ",\n         ".join(
        f"SUM(CAST({m} AS HUGEINT)) AS s_{m}, "
        f"SUM(CAST({m} AS HUGEINT) * {m}) AS ss_{m}"
        for m in _MEAS
    )
    crosses = ",\n         ".join(
        f"SUM(CAST({a} AS HUGEINT) * {b}) AS sx_{a}_{b}" for a, b in _PAIRS
    )
    rows = "\n  UNION ALL\n".join(
        f"""  SELECT '{a}' AS var_a, '{b}' AS var_b, CAST(n AS BIGINT) AS n,
         ROUND(CAST(n * sx_{a}_{b} - s_{a} * s_{b} AS DOUBLE)
               / (SQRT(CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE))
                  * SQRT(CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE))), 6) AS corr
  FROM m"""
        for a, b in _PAIRS
    )
    return f"""
WITH b AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty,
         CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc,
         CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS tax
  FROM lineitem
), m AS (
  SELECT COUNT(*) AS n,
         {sums},
         {crosses}
  FROM b
)
{rows}
ORDER BY var_a, var_b
"""


QCM_ORACLE = _qcm_oracle()


@declare(
    "q_corr_matrix",
    oracle=QCM_ORACLE,
    description="All six pairwise Pearson correlations of four lineitem measures from ONE scan — a single aggregate of exact integer sufficient statistics (stats [ext])",
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]

    def cents(col: str):
        return (F.col(col).cast("decimal(18,2)") * 100).cast("long")

    b = li.select(
        cents("l_extendedprice").alias("price"),
        cents("l_quantity").alias("qty"),
        cents("l_discount").alias("disc"),
        cents("l_tax").alias("tax"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("n")]
    for m in _MEAS:
        aggs.append(F.sum(d(m)).alias(f"s_{m}"))
        aggs.append(F.sum(d(m) * F.col(m)).alias(f"ss_{m}"))
    for a, bb in _PAIRS:
        aggs.append(F.sum(d(a) * F.col(bb)).alias(f"sx_{a}_{bb}"))
    mom = b.agg(*aggs)
    # r12 note: a single-pass explode(array(struct…)) form of the six
    # pair rows (the adaboost pattern) ABAB-measured consistently WORSE
    # here (1.70 vs 1.13 s, steal 0%) — the six 1-row union branches
    # dedupe into one runtime exchange reuse, while the explode path
    # pays a wider final projection.  Same outcome as the reverted
    # q_item_item_cosine explode.  The union stays.
    pair_rows = []
    for a, bb in _PAIRS:
        num = (F.col("n") * F.col(f"sx_{a}_{bb}") - F.col(f"s_{a}") * F.col(f"s_{bb}")).cast(
            "double"
        )
        dena = F.sqrt(
            (F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast(
                "double"
            )
        )
        denb = F.sqrt(
            (F.col("n") * F.col(f"ss_{bb}") - F.col(f"s_{bb}") * F.col(f"s_{bb}")).cast(
                "double"
            )
        )
        pair_rows.append(
            mom.select(
                F.lit(a).alias("var_a"),
                F.lit(bb).alias("var_b"),
                F.col("n").cast("long").alias("n"),
                F.round(num / (dena * denb), 6).alias("corr"),
            )
        )
    out = pair_rows[0]
    for p in pair_rows[1:]:
        out = out.unionByName(p)
    return out.orderBy("var_a", "var_b")


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
# Benjamini–Hochberg step-up over per-nation Welch z-tests.  The
# two-sided p-value uses the standard logistic approximation to the
# normal CDF, Phi(z) ~ 1/(1+exp(-1.702 z)) (Haley 1952 constant),
# with every transcendental output rounded to 10 before reuse — the
# repo's established cross-engine exp/ln discipline.  The BH ranking
# window spans m = #nations rows only.

QBENJAMINI_HOCHBERG_ORACLE = """
WITH cells AS (
  SELECT c_nationkey,
         CAST(c_mktsegment = 'BUILDING' AS INT) AS grp,
         COUNT(*) AS n,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
         SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2)))
           AS ss
  FROM customer GROUP BY c_nationkey, CAST(c_mktsegment = 'BUILDING' AS INT)
), wide AS (
  SELECT c_nationkey,
         MAX(CASE WHEN grp = 1 THEN n END) AS n1,
         MAX(CASE WHEN grp = 1 THEN s END) AS s1,
         MAX(CASE WHEN grp = 1 THEN ss END) AS ss1,
         MAX(CASE WHEN grp = 0 THEN n END) AS n0,
         MAX(CASE WHEN grp = 0 THEN s END) AS s0,
         MAX(CASE WHEN grp = 0 THEN ss END) AS ss0
  FROM cells GROUP BY c_nationkey
  HAVING MAX(CASE WHEN grp = 1 THEN n END) >= 2
     AND MAX(CASE WHEN grp = 0 THEN n END) >= 2
), z AS (
  SELECT c_nationkey,
         ROUND(
           (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
           / sqrt(
               (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
                 / (n1 - 1) / n1
             + (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / n0)
                 / (n0 - 1) / n0
           ), 8) AS z
  FROM wide
), p AS (
  SELECT c_nationkey, z,
         ROUND(2.0 / (1.0 + ROUND(exp(1.702 * abs(z)), 10)), 10) AS p_value
  FROM z
), ranked AS (
  SELECT c_nationkey, z, p_value,
         ROW_NUMBER() OVER (ORDER BY p_value, c_nationkey) AS rk,
         COUNT(*) OVER () AS m
  FROM p
), thresh AS (
  SELECT *, ROUND(0.10 * rk / m, 10) AS bh_threshold,
         MAX(CASE WHEN p_value <= ROUND(0.10 * rk / m, 10) THEN rk ELSE 0 END)
           OVER () AS k
  FROM ranked
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey, z, p_value,
       CAST(rk AS BIGINT) AS rank, bh_threshold,
       CAST(rk <= k AS BOOLEAN) AS rejected
FROM thresh
ORDER BY rank
"""


@declare(
    "q_benjamini_hochberg",
    oracle=QBENJAMINI_HOCHBERG_ORACLE,
    description="Benjamini–Hochberg FDR step-up over per-nation Welch z-tests (BUILDING vs rest acctbal): exact decimal moments, logistic-approx p-values, hypothesis-count-bounded ranking window (multiple testing [ext])",
)
def q_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    cells = cust.groupBy(
        "c_nationkey",
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("grp"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(bal).alias("s"),
        F.sum(bal * bal).alias("ss"),
    )
    wide = (
        cells.groupBy("c_nationkey")
        .agg(
            F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("grp") == 1, F.col("s"))).alias("s1"),
            F.max(F.when(F.col("grp") == 1, F.col("ss"))).alias("ss1"),
            F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("grp") == 0, F.col("s"))).alias("s0"),
            F.max(F.when(F.col("grp") == 0, F.col("ss"))).alias("ss0"),
        )
        .filter((F.col("n1") >= 2) & (F.col("n0") >= 2))
    )
    var1 = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n1")
    ) / (F.col("n1") - 1) / F.col("n1")
    var0 = (
        F.col("ss0").cast("double")
        - F.col("s0").cast("double") * F.col("s0").cast("double") / F.col("n0")
    ) / (F.col("n0") - 1) / F.col("n0")
    z = wide.select(
        "c_nationkey",
        F.round(
            (
                F.col("s1").cast("double") / F.col("n1")
                - F.col("s0").cast("double") / F.col("n0")
            )
            / F.sqrt(var1 + var0),
            8,
        ).alias("z"),
    )
    p = z.withColumn(
        "p_value",
        F.round(
            F.lit(2.0) / (F.lit(1.0) + F.round(F.exp(1.702 * F.abs(F.col("z"))), 10)),
            10,
        ),
    )
    # The ranking window spans m = #hypotheses (<= #nations) rows — a
    # deliberate bounded single-partition window, not a data-sized one.
    w_all = Window.orderBy("p_value", "c_nationkey")
    w_full = Window.partitionBy()
    ranked = p.withColumn("rank", F.row_number().over(w_all)).withColumn(
        "m", F.count(F.lit(1)).over(w_full)
    )
    ranked = ranked.withColumn(
        "bh_threshold", F.round(F.lit(0.10) * F.col("rank") / F.col("m"), 10)
    ).withColumn(
        "k",
        F.max(
            F.when(F.col("p_value") <= F.col("bh_threshold"), F.col("rank")).otherwise(
                0
            )
        ).over(w_full),
    )
    return ranked.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "z",
        "p_value",
        F.col("rank").cast("long").alias("rank"),
        "bh_threshold",
        (F.col("rank") <= F.col("k")).alias("rejected"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Jensen–Shannon divergence between the R-flag and N-flag price-band
# distributions: integer band counts, rounded-addend decimal sums,
# bounded in [0, ln 2].

QJS_ORACLE = """
WITH bands AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice / 500.0) AS BIGINT) AS band
  FROM lineitem
  WHERE l_returnflag IN ('R', 'N') AND l_extendedprice IS NOT NULL
), cnt AS (
  SELECT flag, band, CAST(COUNT(*) AS BIGINT) AS c FROM bands GROUP BY flag, band
), tot AS (
  SELECT flag, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY flag
), wide AS (
  SELECT b.band,
         COALESCE(MAX(CASE WHEN c.flag = 'R' THEN c.c END), 0) AS cr,
         COALESCE(MAX(CASE WHEN c.flag = 'N' THEN c.c END), 0) AS cn
  FROM (SELECT DISTINCT band FROM cnt) b
  LEFT JOIN cnt c USING (band)
  GROUP BY b.band
), probs AS (
  SELECT band,
         CAST(cr AS DOUBLE) / (SELECT t FROM tot WHERE flag = 'R') AS p,
         CAST(cn AS DOUBLE) / (SELECT t FROM tot WHERE flag = 'N') AS q
  FROM wide
), terms AS (
  SELECT band, p, q, (p + q) / 2.0 AS mm,
         CAST(CASE WHEN p > 0
              THEN ROUND(p * ln(p / ((p + q) / 2.0)), 10) ELSE 0 END
              AS DECIMAL(28,12)) AS kp,
         CAST(CASE WHEN q > 0
              THEN ROUND(q * ln(q / ((p + q) / 2.0)), 10) ELSE 0 END
              AS DECIMAL(28,12)) AS kq
  FROM probs
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bands,
       ROUND(CAST(SUM(kp) AS DOUBLE), 6) AS kl_p_m,
       ROUND(CAST(SUM(kq) AS DOUBLE), 6) AS kl_q_m,
       ROUND((CAST(SUM(kp) AS DOUBLE) + CAST(SUM(kq) AS DOUBLE)) / 2.0, 6) AS jsd
FROM terms
"""


@declare(
    "q_jensen_shannon",
    oracle=QJS_ORACLE,
    description="Jensen–Shannon divergence between R-flag and N-flag price-band distributions: integer cells, rounded-addend decimal sums, bounded symmetric divergence in nats (distribution drift [ext])",
)
def q_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): a NULL price has no band —
    # its group would join as an empty USING-band row in the oracle
    li = li.filter(F.col("l_extendedprice").isNotNull())
    bands = li.filter(F.col("l_returnflag").isin("R", "N")).select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") / 500.0).cast("long").alias("band"),
    )
    cnt = bands.groupBy("flag", "band").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cnt = cnt.localCheckpoint(eager=True)  # totals + pivot share this pass
    tot = cnt.groupBy("flag").agg(F.sum("c").cast("long").alias("t"))
    tr = tot.filter(F.col("flag") == "R").select(F.col("t").alias("tr"))
    tn = tot.filter(F.col("flag") == "N").select(F.col("t").alias("tn"))
    wide = cnt.groupBy("band").agg(
        F.coalesce(F.max(F.when(F.col("flag") == "R", F.col("c"))), F.lit(0)).alias(
            "cr"
        ),
        F.coalesce(F.max(F.when(F.col("flag") == "N", F.col("c"))), F.lit(0)).alias(
            "cn"
        ),
    )
    probs = (
        wide.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tn))
        .select(
            "band",
            (F.col("cr").cast("double") / F.col("tr")).alias("p"),
            (F.col("cn").cast("double") / F.col("tn")).alias("q"),
        )
    )
    mm = (F.col("p") + F.col("q")) / 2.0
    kp = (
        F.when(F.col("p") > 0, F.round(F.col("p") * F.log(F.col("p") / mm), 10))
        .otherwise(0.0)
        .cast("decimal(28,12)")
    )
    kq = (
        F.when(F.col("q") > 0, F.round(F.col("q") * F.log(F.col("q") / mm), 10))
        .otherwise(0.0)
        .cast("decimal(28,12)")
    )
    return probs.agg(
        F.count(F.lit(1)).cast("long").alias("n_bands"),
        F.round(F.sum(kp).cast("double"), 6).alias("kl_p_m"),
        F.round(F.sum(kq).cast("double"), 6).alias("kl_q_m"),
        F.round(
            (F.sum(kp).cast("double") + F.sum(kq).cast("double")) / 2.0, 6
        ).alias("jsd"),
    )


# ---------------------------------------------------------------------------
# Cramér's V over the (orderpriority × orderstatus) contingency table:
# all arithmetic on <= 15 integer cells after one count shuffle.

QCV_ORACLE = """
WITH cells AS (
  SELECT o_orderpriority AS r, o_orderstatus AS c, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY o_orderpriority, o_orderstatus
), rt AS (SELECT r, CAST(SUM(n) AS BIGINT) AS nr FROM cells GROUP BY r),
ct AS (SELECT c, CAST(SUM(n) AS BIGINT) AS nc FROM cells GROUP BY c),
g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(COUNT(DISTINCT r) AS BIGINT) AS nrows,
             CAST(COUNT(DISTINCT c) AS BIGINT) AS ncols FROM cells),
terms AS (
  SELECT cells.n, rt.nr, ct.nc, g.nn, g.nrows, g.ncols,
         CAST(ROUND(
           POWER(cells.n - CAST(rt.nr AS DOUBLE) * ct.nc / g.nn, 2)
           / (CAST(rt.nr AS DOUBLE) * ct.nc / g.nn), 10) AS DECIMAL(28,12)) AS t
  FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN g
)
SELECT MIN(nn) AS n,
       CAST(MIN((nrows - 1) * (ncols - 1)) AS BIGINT) AS dof,
       ROUND(CAST(SUM(t) AS DOUBLE), 6) AS chi2,
       ROUND(sqrt(CAST(SUM(t) AS DOUBLE)
                  / (MIN(nn) * (least(MIN(nrows), MIN(ncols)) - 1))), 6)
         AS cramers_v
FROM terms
"""


@declare(
    "q_cramers_v",
    oracle=QCV_ORACLE,
    description="Cramér's V association of orderpriority × orderstatus: chi-square from integer contingency cells (rounded-addend decimal sum), V = sqrt(chi2/(N·(min(r,c)−1))) (categorical association [ext])",
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    cells = cells.localCheckpoint(eager=True)  # marginals + terms share it
    rt = cells.groupBy("r").agg(F.sum("n").cast("long").alias("nr"))
    ct = cells.groupBy("c").agg(F.sum("n").cast("long").alias("nc"))
    g = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.countDistinct("r").cast("long").alias("nrows"),
        F.countDistinct("c").cast("long").alias("ncols"),
    )
    exp = F.col("nr").cast("double") * F.col("nc") / F.col("nn")
    t = F.round(
        F.pow(F.col("n") - exp, 2) / exp,
        10,
    ).cast("decimal(28,12)")
    terms = (
        cells.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(g))
    )
    return terms.agg(
        F.min("nn").alias("n"),
        F.min((F.col("nrows") - 1) * (F.col("ncols") - 1)).cast("long").alias("dof"),
        F.round(F.sum(t).cast("double"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum(t).cast("double")
                / (F.min("nn") * (F.least(F.min("nrows"), F.min("ncols")) - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Tukey-Kramer post-hoc: q_ij = |mean_i − mean_j| / sqrt(MSW/2 ·
# (1/n_i + 1/n_j)) over nation pairs; MSW from exact decimal moments.
# The pair fan-out is #groups² (≤ 625) — hypothesis-bounded like BH.
# The significance flag compares against a FIXED literal threshold
# (3.633) so the boolean is engine-neutral; consumers substitute the
# studentized-range critical value for their (α, k, df).

QTUKEY_ORACLE = """
WITH g AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
         SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2)))
           AS ss
  FROM customer GROUP BY c_nationkey HAVING COUNT(*) >= 2
), msw AS (
  SELECT CAST(SUM(CAST(n AS HUGEINT) - 1) AS BIGINT) AS dfw,
         CAST(SUM(CAST(ROUND(CAST(ss AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6)
               AS DECIMAL(28,8))) AS DOUBLE) AS ssw
  FROM g
), pairs AS (
  SELECT a.nk AS nation_a, b.nk AS nation_b,
         ROUND(abs(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
               / sqrt((m.ssw / m.dfw) / 2.0
                      * (1.0 / a.n + 1.0 / b.n)), 6) AS q_stat
  FROM g a JOIN g b ON a.nk < b.nk CROSS JOIN msw m
)
SELECT CAST(nation_a AS BIGINT) AS nation_a,
       CAST(nation_b AS BIGINT) AS nation_b,
       q_stat,
       q_stat > 3.633 AS significant
FROM pairs
ORDER BY q_stat DESC, nation_a, nation_b
LIMIT 20
"""


@declare(
    "q_tukey_kramer",
    oracle=QTUKEY_ORACLE,
    description="Tukey-Kramer post-hoc studentized-range statistics for every nation pair on acctbal (exact decimal moments, hypothesis-bounded pair fan-out, fixed published critical value) — the pairwise refinement of q_anova_f (multiple comparison [ext])",
)
def q_tukey_kramer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    g = (
        cust.groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(bal).alias("s"),
            F.sum(bal * bal).alias("ss"),
        )
        .filter(F.col("n") >= 2)
    )
    g = g.localCheckpoint(eager=True)  # MSW + both pair sides share it
    ssw_term = F.round(
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n"),
        6,
    ).cast("decimal(28,8)")
    msw = g.agg(
        F.sum(F.col("n") - 1).cast("long").alias("dfw"),
        F.sum(ssw_term).cast("double").alias("ssw"),
    )
    a = g.select(
        F.col("nk").alias("nation_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
    )
    b = g.select(
        F.col("nk").alias("nation_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
    )
    pairs = (
        a.join(b, F.col("nation_a") < F.col("nation_b"))
        .crossJoin(F.broadcast(msw))
        .select(
            F.col("nation_a").cast("long").alias("nation_a"),
            F.col("nation_b").cast("long").alias("nation_b"),
            F.round(
                F.abs(
                    F.col("sa").cast("double") / F.col("na")
                    - F.col("sb").cast("double") / F.col("nb")
                )
                / F.sqrt(
                    (F.col("ssw") / F.col("dfw"))
                    / 2.0
                    * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
                ),
                6,
            ).alias("q_stat"),
        )
    )
    return (
        pairs.withColumn("significant", F.col("q_stat") > 3.633)
        .orderBy(F.col("q_stat").desc(), "nation_a", "nation_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-homogeneity test: ANOVA-F on z = |x − med_g|
# across market segments.  Medians are exact type-1 distinct-cents
# ECDF values, so z is an exact integer in cents; the F statistic
# then assembles from integer/decimal-exact moments only.

QBF_ORACLE = """
WITH pts AS (
  SELECT c_mktsegment AS seg,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
  FROM customer
), cells AS (
  SELECT seg, v, COUNT(*) AS c FROM pts GROUP BY seg, v
), ecdf AS (
  SELECT seg, v,
         SUM(c) OVER (PARTITION BY seg ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY seg) AS n
  FROM cells
), med AS (
  SELECT seg, MIN(CASE WHEN cum * 2 >= n THEN v END) AS med
  FROM ecdf GROUP BY seg
), z AS (
  SELECT p.seg, abs(p.v - m.med) AS z
  FROM pts p JOIN med m USING (seg)
), g AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(z AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS BIGINT) AS ss
  FROM z GROUP BY seg
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(s AS HUGEINT)) AS BIGINT) AS st,
         CAST(SUM(CAST(ss AS HUGEINT)) AS BIGINT) AS sst,
         CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n, 6) AS DECIMAL(28,8)))
              AS DOUBLE) AS sum_sq_over_n
  FROM g
)
SELECT k AS n_groups, nn AS n_rows,
       ROUND((sum_sq_over_n - CAST(st AS DOUBLE) * st / nn) / (k - 1)
             / ((CAST(sst AS DOUBLE) - sum_sq_over_n) / (nn - k)), 6)
         AS bf_stat
FROM tot
"""


@declare(
    "q_brown_forsythe",
    oracle=QBF_ORACLE,
    description="Brown-Forsythe variance-homogeneity test across market segments: ANOVA-F on |x − group median| with exact type-1 cents medians (counts-first ECDF) so every deviation is integer — the precondition check for q_anova_f (stats [ext])",
)
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    pts = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v"),
    )
    pts = pts.localCheckpoint(eager=True)  # median ECDF + z share it
    cells = pts.groupBy("seg", "v").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("seg").orderBy("v").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    wall = Window.partitionBy("seg")
    ecdf = cells.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    med = ecdf.groupBy("seg").agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))).alias("med")
    )
    z = pts.join(F.broadcast(med), "seg").select(
        "seg", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    g = z.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("s"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("ss"),
    )
    sq_over_n = F.round(
        F.col("s").cast("double") * F.col("s") / F.col("n"), 6
    ).cast("decimal(28,8)")
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
        F.sum(sq_over_n).cast("double").alias("sum_sq_over_n"),
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        F.round(
            (F.col("sum_sq_over_n") - F.col("st").cast("double") * F.col("st") / F.col("nn"))
            / (F.col("k") - 1)
            / (
                (F.col("sst").cast("double") - F.col("sum_sq_over_n"))
                / (F.col("nn") - F.col("k"))
            ),
            6,
        ).alias("bf_stat"),
    )


_MOM_SQL = """
  SELECT COUNT(*) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3, SUM(x4) AS s4,
         SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x1*x3) AS s13,
         SUM(x1*x4) AS s14, SUM(x2*x2) AS s22, SUM(x2*x3) AS s23,
         SUM(x2*x4) AS s24, SUM(x3*x3) AS s33, SUM(x3*x4) AS s34,
         SUM(x4*x4) AS s44
  FROM (SELECT CAST(l_quantity AS DECIMAL(19,4)) AS x1,
               CAST(l_extendedprice AS DECIMAL(19,4)) AS x2,
               CAST(l_discount AS DECIMAL(19,4)) AS x3,
               CAST(l_tax AS DECIMAL(19,4)) AS x4
        FROM lineitem)
"""


def _corr_sql(a: int, b: int) -> str:
    return (
        f"ROUND((n * CAST(s{a}{b} AS DOUBLE) - CAST(s{a} AS DOUBLE) * CAST(s{b} AS DOUBLE))"
        f" / sqrt((n * CAST(s{a}{a} AS DOUBLE) - CAST(s{a} AS DOUBLE) * CAST(s{a} AS DOUBLE))"
        f" * (n * CAST(s{b}{b} AS DOUBLE) - CAST(s{b} AS DOUBLE) * CAST(s{b} AS DOUBLE))), 10)"
    )


QPC_ORACLE = (
    "WITH mom AS ("
    + _MOM_SQL
    + f"""), r AS (
  SELECT {_corr_sql(1, 2)} AS r12, {_corr_sql(1, 3)} AS r13,
         {_corr_sql(1, 4)} AS r14, {_corr_sql(2, 3)} AS r23,
         {_corr_sql(2, 4)} AS r24, {_corr_sql(3, 4)} AS r34
  FROM mom
)
SELECT pair, ROUND(pc, 6) AS partial_corr FROM (
  SELECT 'qty_price_ctrl_discount' AS pair,
         (r12 - r13 * r23) / sqrt((1 - r13 * r13) * (1 - r23 * r23)) AS pc
  FROM r
  UNION ALL
  SELECT 'qty_discount_ctrl_tax',
         (r13 - r14 * r34) / sqrt((1 - r14 * r14) * (1 - r34 * r34)) FROM r
  UNION ALL
  SELECT 'price_tax_ctrl_qty',
         (r24 - r12 * r14) / sqrt((1 - r12 * r12) * (1 - r14 * r14)) FROM r
)
ORDER BY pair
"""
)


def _corr_col(mom, a: int, b: int):
    n = F.col("n")
    num = n * F.col(f"s{a}{b}").cast("double") - F.col(f"s{a}").cast(
        "double"
    ) * F.col(f"s{b}").cast("double")
    den = F.sqrt(
        (
            n * F.col(f"s{a}{a}").cast("double")
            - F.col(f"s{a}").cast("double") * F.col(f"s{a}").cast("double")
        )
        * (
            n * F.col(f"s{b}{b}").cast("double")
            - F.col(f"s{b}").cast("double") * F.col(f"s{b}").cast("double")
        )
    )
    return F.round(num / den, 10)


def _lineitem_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    xs = [
        F.col("l_quantity").cast("decimal(19,4)"),
        F.col("l_extendedprice").cast("decimal(19,4)"),
        F.col("l_discount").cast("decimal(19,4)"),
        F.col("l_tax").cast("decimal(19,4)"),
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(xs[i]).alias(f"s{i+1}") for i in range(4)]
    for i in range(4):
        for j in range(i, 4):
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"s{i+1}{j+1}"))
    # project to the four measures + hash-spread before the 15-term
    # decimal multiply-accumulate (r12, the PCA moment-pass treatment:
    # the map-side partial agg otherwise runs on the single-row-group
    # scan's ONE core; decimal sums are order-free exact, so placement
    # cannot change a moment)
    from jibaro_spark.operators.util import ensure_parallelism

    li = ensure_parallelism(
        li.select("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        by="l_extendedprice",
    )
    return li.agg(*aggs)


@declare(
    "q_partial_correlation",
    oracle=QPC_ORACLE,
    description="First-order partial correlations r_xy.z of the lineitem measures from one exact-decimal moment pass — the controlled-confounder companion of q_corr_matrix (multivariate stats [ext])",
)
def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    mom = _lineitem_moments(spark, sf_dir)
    r = mom.select(
        _corr_col(mom, 1, 2).alias("r12"),
        _corr_col(mom, 1, 3).alias("r13"),
        _corr_col(mom, 1, 4).alias("r14"),
        _corr_col(mom, 2, 3).alias("r23"),
        _corr_col(mom, 2, 4).alias("r24"),
        _corr_col(mom, 3, 4).alias("r34"),
    ).localCheckpoint(eager=True)  # 1 row; the 3 union branches below
    # would otherwise each re-run the full moment scan

    def pc(rxy, rxz, ryz):
        return (F.col(rxy) - F.col(rxz) * F.col(ryz)) / F.sqrt(
            (1 - F.col(rxz) * F.col(rxz)) * (1 - F.col(ryz) * F.col(ryz))
        )

    rows = [
        ("qty_price_ctrl_discount", pc("r12", "r13", "r23")),
        ("qty_discount_ctrl_tax", pc("r13", "r14", "r34")),
        ("price_tax_ctrl_qty", pc("r24", "r12", "r14")),
    ]
    out = None
    for name, expr in rows:
        part = r.select(
            F.lit(name).alias("pair"), F.round(expr, 6).alias("partial_corr")
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("pair")


# ---------------------------------------------------------------------------
# Cronbach's alpha.  var_total is the variance of the item SUM —
# assembled from the full cross-moment sum, never a second pass.

QCRONBACH_ALPHA_ORACLE = (
    "WITH mom AS ("
    + _MOM_SQL
    + """)
SELECT 4 AS k,
       ROUND(4.0 / 3.0 * (1.0 -
         (((n * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
          + (n * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
          + (n * CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))
          + (n * CAST(s44 AS DOUBLE) - CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE)))
         /
         (n * (CAST(s11 AS DOUBLE) + CAST(s22 AS DOUBLE) + CAST(s33 AS DOUBLE)
               + CAST(s44 AS DOUBLE)
               + 2 * (CAST(s12 AS DOUBLE) + CAST(s13 AS DOUBLE)
                      + CAST(s14 AS DOUBLE) + CAST(s23 AS DOUBLE)
                      + CAST(s24 AS DOUBLE) + CAST(s34 AS DOUBLE)))
          - (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE) + CAST(s3 AS DOUBLE)
             + CAST(s4 AS DOUBLE))
            * (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE) + CAST(s3 AS DOUBLE)
               + CAST(s4 AS DOUBLE))))), 6) AS alpha
FROM mom
"""
)


@declare(
    "q_cronbach_alpha",
    oracle=QCRONBACH_ALPHA_ORACLE,
    description="Cronbach's alpha internal-consistency reliability of the 4 lineitem measures: item variances + sum-variance from the full cross-moment pass (psychometrics [ext])",
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    mom = _lineitem_moments(spark, sf_dir)
    n = F.col("n")

    def var(i):
        return n * F.col(f"s{i}{i}").cast("double") - F.col(f"s{i}").cast(
            "double"
        ) * F.col(f"s{i}").cast("double")

    sum_items = (
        F.col("s11").cast("double")
        + F.col("s22").cast("double")
        + F.col("s33").cast("double")
        + F.col("s44").cast("double")
        + 2
        * (
            F.col("s12").cast("double")
            + F.col("s13").cast("double")
            + F.col("s14").cast("double")
            + F.col("s23").cast("double")
            + F.col("s24").cast("double")
            + F.col("s34").cast("double")
        )
    )
    s_tot = (
        F.col("s1").cast("double")
        + F.col("s2").cast("double")
        + F.col("s3").cast("double")
        + F.col("s4").cast("double")
    )
    var_total = n * sum_items - s_tot * s_tot
    alpha = F.lit(4.0) / 3.0 * (F.lit(1.0) - (var(1) + var(2) + var(3) + var(4)) / var_total)
    return mom.select(F.lit(4).alias("k"), F.round(alpha, 6).alias("alpha"))


# ---------------------------------------------------------------------------
# ICC(1,1) with the unbalanced k0 correction, over acctbal cents
# within nations — exact integer group moments.

QICC_ORACLE = """
WITH pts AS (
  SELECT c_nationkey AS g, CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
  FROM customer
), grp AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS BIGINT) AS ss
  FROM pts GROUP BY g
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS gcnt, CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(s AS HUGEINT)) AS BIGINT) AS st,
         CAST(SUM(CAST(ss AS HUGEINT)) AS BIGINT) AS sst,
         CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n, 6) AS DECIMAL(28,8)))
              AS DOUBLE) AS sq_over_n,
         CAST(SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS BIGINT) AS sum_n2
  FROM grp
), ms AS (
  SELECT gcnt, nn,
         (sq_over_n - CAST(st AS DOUBLE) * st / nn) / (gcnt - 1) AS msb,
         (CAST(sst AS DOUBLE) - sq_over_n) / (nn - gcnt) AS msw,
         (CAST(nn AS DOUBLE) - CAST(sum_n2 AS DOUBLE) / nn) / (gcnt - 1) AS k0
  FROM tot
)
SELECT gcnt AS n_groups, nn AS n_rows, ROUND(k0, 6) AS k0,
       ROUND((msb - msw) / (msb + (k0 - 1) * msw), 6) AS icc
FROM ms
"""


@declare(
    "q_icc_anova",
    oracle=QICC_ORACLE,
    description="One-way random-effects intraclass correlation ICC(1,1) of acctbal cents within nations, unbalanced k0 group-size correction, exact integer moments (reliability [ext])",
)
def q_icc_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    pts = cust.select(
        F.col("c_nationkey").alias("g"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v"),
    )
    grp = pts.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    sq_over_n = F.round(
        F.col("s").cast("double") * F.col("s") / F.col("n"), 6
    ).cast("decimal(28,8)")
    tot = grp.agg(
        F.count(F.lit(1)).cast("long").alias("gcnt"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
        F.sum(sq_over_n).cast("double").alias("sq_over_n"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_n2"),
    )
    msb = (
        F.col("sq_over_n") - F.col("st").cast("double") * F.col("st") / F.col("nn")
    ) / (F.col("gcnt") - 1)
    msw = (F.col("sst").cast("double") - F.col("sq_over_n")) / (
        F.col("nn") - F.col("gcnt")
    )
    k0 = (F.col("nn").cast("double") - F.col("sum_n2").cast("double") / F.col("nn")) / (
        F.col("gcnt") - 1
    )
    return tot.select(
        F.col("gcnt").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        F.round(k0, 6).alias("k0"),
        F.round((msb - msw) / (msb + (k0 - 1) * msw), 6).alias("icc"),
    )


# ---------------------------------------------------------------------------
# Second-digit Benford screen: P(second = k) = Σ_{d=1..9}
# log10(1 + 1/(10d + k)).  Exact integer digit extraction, two-digit
# values and up only.

QB2_ORACLE = """
WITH v AS (
  SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS iv FROM orders
  WHERE o_totalprice >= 10
), d AS (
  SELECT CAST(FLOOR(iv / POWER(10, LENGTH(CAST(iv AS VARCHAR)) - 2)) AS BIGINT)
           % 10 AS digit
  FROM v
), c AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
), t AS (SELECT SUM(n) AS tot FROM c),
exp_p AS (
  SELECT k AS digit,
         ROUND(LOG10(1.0 + 1.0 / (10 + k)) + LOG10(1.0 + 1.0 / (20 + k))
             + LOG10(1.0 + 1.0 / (30 + k)) + LOG10(1.0 + 1.0 / (40 + k))
             + LOG10(1.0 + 1.0 / (50 + k)) + LOG10(1.0 + 1.0 / (60 + k))
             + LOG10(1.0 + 1.0 / (70 + k)) + LOG10(1.0 + 1.0 / (80 + k))
             + LOG10(1.0 + 1.0 / (90 + k)), 6) AS benford_p
  FROM (SELECT unnest(generate_series(0, 9)) AS k)
)
SELECT e.digit, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
       ROUND(CAST(COALESCE(c.n, 0) AS DOUBLE) / t.tot, 6) AS observed_p,
       e.benford_p
FROM exp_p e LEFT JOIN c ON c.digit = e.digit CROSS JOIN t
ORDER BY e.digit
"""


@declare(
    "q_benford_second_digit",
    oracle=QB2_ORACLE,
    description="Second-digit Benford screen of order totals vs Σ_d log10(1+1/(10d+k)) — the forensic follow-up to the first-digit test, exact integer digit extraction (stats [ext])",
)
def q_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    iv = F.floor(F.col("o_totalprice")).cast("long")
    d = orders.filter(F.col("o_totalprice") >= 10).select(
        (
            F.floor(
                iv / F.pow(F.lit(10.0), F.length(iv.cast("string")) - 2)
            ).cast("long")
            % 10
        ).alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("tot"))
    exp_rows = spark.range(0, 10).select(F.col("id").cast("long").alias("digit"))
    benford_p = F.round(
        sum(
            F.log10(F.lit(1.0) + F.lit(1.0) / (10 * d10 + F.col("digit")))
            for d10 in range(1, 10)
        ),
        6,
    )
    return (
        exp_rows.join(c, "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.round(
                F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("tot"), 6
            ).alias("observed_p"),
            benford_p.alias("benford_p"),
        )
        .orderBy("digit")
    )


QKENDALL_W_ORACLE = """
WITH rev AS (
  SELECT c.c_nationkey AS nk, year(o.o_orderdate) AS y,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT nk, y, RANK() OVER (PARTITION BY y ORDER BY v DESC, nk) AS rk
  FROM rev
), m AS (SELECT CAST(COUNT(DISTINCT y) AS BIGINT) AS m FROM ranked),
n AS (SELECT CAST(COUNT(DISTINCT nk) AS BIGINT) AS n FROM ranked),
sums AS (
  SELECT nk, CAST(SUM(rk) AS BIGINT) AS ri FROM ranked GROUP BY nk
), dev AS (
  SELECT CAST(SUM(CAST((s.ri * 2 * n.n - m.m * (n.n + 1) * n.n)
               * (s.ri * 2 * n.n - m.m * (n.n + 1) * n.n) AS HUGEINT))
          AS DECIMAL(38,0)) AS s4n2
  FROM sums s CROSS JOIN m CROSS JOIN n
)
SELECT m.m AS n_years, n.n AS n_nations,
       ROUND(12.0 * (CAST(d.s4n2 AS DOUBLE) / (4.0 * n.n * n.n))
             / (CAST(m.m AS DOUBLE) * m.m * (CAST(n.n AS DOUBLE) * n.n * n.n - n.n)),
             6) AS kendall_w
FROM m CROSS JOIN n CROSS JOIN dev d
"""


@declare(
    "q_kendall_w",
    oracle=QKENDALL_W_ORACLE,
    description="Kendall's coefficient of concordance W across yearly nation revenue rankings: per-year ranks over the nation-bounded table, W from exact integer rank-sum deviations (multi-rater agreement [ext])",
)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    o, c = t["orders"], t["customer"]
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nk"), F.year("o_orderdate").alias("y")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("v"))
    )
    w = Window.partitionBy("y").orderBy(F.col("v").desc(), F.col("nk"))
    ranked = rev.withColumn("rk", F.rank().over(w))
    ranked = ranked.localCheckpoint(eager=True)  # m/n/sums share it
    m = ranked.agg(F.countDistinct("y").cast("long").alias("m"))
    n = ranked.agg(F.countDistinct("nk").cast("long").alias("n"))
    sums = ranked.groupBy("nk").agg(F.sum("rk").cast("long").alias("ri"))
    # deviations scaled by 2n to stay integer: (2n·Ri − m·n(n+1))²
    dev = (
        sums.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(n))
        .select(
            (
                (F.col("ri") * 2 * F.col("n") - F.col("m") * (F.col("n") + 1) * F.col("n"))
                * (F.col("ri") * 2 * F.col("n") - F.col("m") * (F.col("n") + 1) * F.col("n"))
            )
            .cast("decimal(38,0)")
            .alias("d2")
        )
        .agg(F.sum("d2").alias("s4n2"))
    )
    return (
        m.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(dev))
        .select(
            F.col("m").alias("n_years"),
            F.col("n").alias("n_nations"),
            F.round(
                12.0
                * (F.col("s4n2").cast("double") / (4.0 * F.col("n") * F.col("n")))
                / (
                    F.col("m").cast("double")
                    * F.col("m")
                    * (F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n"))
                ),
                6,
            ).alias("kendall_w"),
        )
    )


QFRIED_ORACLE = """
WITH rev AS (
  SELECT c.c_nationkey AS nk, year(o.o_orderdate) AS y,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), m AS (SELECT CAST(COUNT(DISTINCT y) AS BIGINT) AS m FROM rev),
complete AS (
  SELECT nk FROM rev CROSS JOIN m GROUP BY nk, m.m
  HAVING COUNT(*) = MAX(m.m)
), ranked AS (
  SELECT r.nk, r.y,
         RANK() OVER (PARTITION BY r.y ORDER BY r.v DESC, r.nk) AS rk
  FROM rev r JOIN complete c ON c.nk = r.nk
), n AS (SELECT CAST(COUNT(DISTINCT nk) AS BIGINT) AS n FROM ranked),
sums AS (
  SELECT nk, CAST(SUM(rk) AS BIGINT) AS rj FROM ranked GROUP BY nk
)
SELECT m.m AS n_years, n.n AS n_nations,
       ROUND(12.0 / (m.m * n.n * (n.n + 1))
             * CAST(SUM(CAST(rj AS HUGEINT) * rj) AS DOUBLE)
             - 3.0 * m.m * (n.n + 1), 6) AS friedman_chi2
FROM sums CROSS JOIN m CROSS JOIN n
GROUP BY m.m, n.n
"""


@declare(
    "q_friedman_test",
    oracle=QFRIED_ORACLE,
    description="Friedman rank test over the complete-block design (all-year nations × year blocks): chi-square from exact integer rank sums — the omnibus companion of Kendall's W (nonparametric repeated measures [ext])",
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    o, c = t["orders"], t["customer"]
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nk"), F.year("o_orderdate").alias("y")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("v"))
    )
    rev = rev.localCheckpoint(eager=True)  # m + completeness + ranks
    m_df = rev.agg(F.countDistinct("y").cast("long").alias("m"))
    complete = (
        rev.crossJoin(F.broadcast(m_df))
        .groupBy("nk")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("m").alias("m"))
        .filter(F.col("cnt") == F.col("m"))
        .select("nk")
    )
    ranked = rev.join(F.broadcast(complete), "nk").withColumn(
        "rk",
        F.rank().over(Window.partitionBy("y").orderBy(F.col("v").desc(), "nk")),
    )
    n_df = ranked.agg(F.countDistinct("nk").cast("long").alias("n"))
    sums = ranked.groupBy("nk").agg(F.sum("rk").cast("long").alias("rj"))
    stat = sums.agg(
        F.sum(F.col("rj").cast("decimal(38,0)") * F.col("rj")).alias("s2")
    )
    return (
        m_df.crossJoin(F.broadcast(n_df))
        .crossJoin(F.broadcast(stat))
        .select(
            F.col("m").alias("n_years"),
            F.col("n").alias("n_nations"),
            F.round(
                F.lit(12.0)
                / (F.col("m") * F.col("n") * (F.col("n") + 1))
                * F.col("s2").cast("double")
                - 3.0 * F.col("m") * (F.col("n") + 1),
                6,
            ).alias("friedman_chi2"),
        )
    )
