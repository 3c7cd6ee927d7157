"""Sketch and sampling declared queries: HLL, KMV, count-min and
space-saving sketches, quantile sketches, and priority, weighted,
stratified, bottom-k and bootstrap sampling.

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.operators import textops as tx
from jibaro_spark.operators.util import ensure_parallelism
from jibaro_spark.queries.registry import (
    _TOKS,
    _md5_mod,
    _sql_md5_mod,
    declare,
    load_tables,
)


# Exact deterministic stratified sample: n-per-stratum chosen by
# md5(doc_id) order — reproducible across engines/partitionings, no
# RNG (sampleBy is approximate AND seed-implementation-dependent).
QSTRAT_ORACLE = """
SELECT lang, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rn
  FROM documents
) WHERE rn <= 5
ORDER BY lang, doc_id
"""


@declare(
    "q_stratified_sample",
    oracle=QSTRAT_ORACLE,
    description="exact deterministic stratified sample (5 per language, md5 order; training pipeline [ext])",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


# Deterministic weighted sampling by PRIORITY SAMPLING (bottom-n of
# u/w with md5-derived uniforms, weight = token count).  Chosen over
# Efraimidis–Spirakis keys because u^(1/w)/log() are libm-dependent in
# their last ulp; one IEEE division is correctly rounded everywhere,
# so the sampled SET (not just its size) hash-matches cross-engine.
# Physically a global bottom-k (TakeOrdered) — no corpus shuffle.
_HEX13_U_SQL = """
(list_sum(list_transform(range(1, 14),
    i -> CAST(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS DOUBLE)
         * (16.0 ^ (13 - i)))) + 0.5) / (16.0 ^ 13)
"""

QPSAMPLE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
  WHERE doc_id IS NOT NULL
), p AS (
  SELECT doc_id, n_tokens,
         ({_HEX13_U_SQL}) / CAST(n_tokens AS DOUBLE) AS priority
  FROM t WHERE n_tokens > 0
)
SELECT doc_id, n_tokens, priority FROM p ORDER BY priority, doc_id LIMIT 50
"""


@declare(
    "q_priority_sample",
    oracle=QPSAMPLE_ORACLE,
    description="deterministic weighted sample (priority sampling, md5 uniforms, weight = token count) — sampled set hash-matched (training pipeline [ext])",
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import priority_sample

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # identity keys the md5 uniform, weight must be positive — NULL ids
    # (whose NULL priority sorts OPPOSITE ways in Spark and SQL) and
    # token-free docs are out of the sampling frame on both sides
    weighted = docs.select(
        "doc_id", F.size(tx.tokens(F.col("text"))).cast("long").alias("n_tokens")
    ).filter(F.col("doc_id").isNotNull() & (F.col("n_tokens") > 0))
    return priority_sample(weighted, "doc_id", "n_tokens", 50)


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


@declare(
    "q_cms_heavy_hitters",
    oracle=None,  # sketch estimates are engine-specific; accuracy pinned in pytest
    description="count-min sketch heavy hitters — mergeable depth×width counter sketch, estimate ≥ truth (sketch family [ext])",
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.sketches import cms_estimates
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    terms = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    return (
        cms_estimates(terms, "term", depth=4, width=1024)
        .orderBy(F.col("est").desc(), "term")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Per-group weighted sampling: priority sampling (Duffield–Lund–Thorup)
# partitioned by group — n rows per order priority, inclusion ∝
# o_totalprice.  md5-derived uniforms: no RNG state, identical sample
# across engines/partitionings/reruns.  One shuffle on the group key;
# per-group bottom-k windows, no global sort.
QPSG_ORACLE = """
WITH pri AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ((CAST(('0x' || SUBSTRING(md5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT)
           + 0.5) / 4503599627370496.0) / o_totalprice AS priority
  FROM orders WHERE o_totalprice > 0
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                               ORDER BY priority, o_orderkey) AS rn
  FROM pri
)
SELECT o_orderpriority, o_orderkey, o_totalprice,
       ROUND(priority, 6) AS priority
FROM ranked WHERE rn <= 10
ORDER BY o_orderpriority, priority, o_orderkey
"""


@declare(
    "q_priority_sample_groups",
    oracle=QPSG_ORACLE,
    description="deterministic weighted sample per group (priority sampling, md5 uniforms, per-group bottom-k) (sampling family [ext])",
)
def q_priority_sample_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import priority_sample_per_group

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    out = priority_sample_per_group(
        orders, "o_orderpriority", "o_orderkey", "o_totalprice", n_per_group=10
    )
    return out.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.round("priority", 6).alias("priority"),
    ).orderBy("o_orderpriority", "priority", "o_orderkey")


# ---------------------------------------------------------------------------
# Approximate quantiles — the mergeable QUANTILE sketch completing the
# sketch family (HLL distinct / KMV / CMS frequency / this): Spark's
# approx_percentile (Greenwald-Khanna variant) with explicit accuracy.
# Partials merge across partitions by construction — per-partition
# sketches combine without a global sort, the quantile story at any
# corpus size.  Values are engine-specific (DuckDB's approx sketch
# differs), so this is a rows-only driver entry; the rank-error
# contract |rank(est) − target_rank| ≤ n/accuracy is pinned exactly in
# tests/test_approx_ops.py against the exact quantiles.
@declare(
    "q_approx_quantiles",
    oracle=None,  # sketch estimates are engine-specific; error bound pinned in pytest
    description="approx_percentile quantile sketch over order prices at two accuracies — mergeable quantile summary, rank-error-bounded (sketch family [ext])",
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    pcts = [0.25, 0.5, 0.75, 0.95]
    return orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            F.percentile_approx("o_totalprice", p, acc).alias(
                f"p{int(p * 100)}_acc{acc}"
            )
            for acc in (100, 10000)
            for p in pcts
        ],
    )


# ---------------------------------------------------------------------------
# Count-min sketch in verifiable md5 mode (VERDICT r5 §Next-6): with a
# deterministic cross-engine hash, CMS estimates are a pure function of
# the data — the oracle REPLAYS the sketch (cell counts per (row,col))
# and the d-way min lookup in SQL, so the driver hash-checks the whole
# sketch→merge-law→lookup pipeline, not just row counts.  The xxhash64
# production mode (q_cms_heavy_hitters) keeps its pytest error-bound
# checks; cell math here is conv(substr(md5(d|term),1,8),16,10) % width
# == DuckDB CAST('0x'||substr(md5(...),1,8) AS BIGINT) % width.
QCMS_MD5_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS term FROM documents
), ds AS (
  SELECT unnest([0, 1, 2, 3]) AS d
), sketch AS (
  SELECT d.d AS row,
         CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || '|' || term), 1, 8)) AS BIGINT) % 1024 AS col,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks, ds d
  GROUP BY 1, 2
), est AS (
  SELECT t.term, MIN(s.cnt) AS est
  FROM (SELECT DISTINCT term FROM toks) t
  CROSS JOIN ds d
  JOIN sketch s
    ON s.row = d.d
   AND s.col = CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || '|' || t.term), 1, 8)) AS BIGINT) % 1024
  GROUP BY t.term
)
SELECT term, CAST(est AS BIGINT) AS est
FROM est ORDER BY est DESC, term LIMIT 25
"""


@declare(
    "q_cms_heavy_hitters_md5",
    oracle=QCMS_MD5_ORACLE,
    description="count-min heavy hitters, verifiable md5 hash mode — the SQL oracle replays sketch cells and d-way min lookup exactly (sketch family [ext])",
)
def q_cms_heavy_hitters_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.sketches import cms_estimates
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    terms = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    return (
        cms_estimates(terms, "term", depth=4, width=1024, hash_mode="md5")
        .select("term", F.col("est").cast("long").alias("est"))
        .orderBy(F.col("est").desc(), "term")
        .limit(25)
    )


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
_KMV_OVERLAP_K = 128

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
  FROM ranked WHERE rn = {_KMV_OVERLAP_K}
), bottomk AS (
  SELECT grp, SUM(in_a * in_b) AS both_cnt
  FROM ranked WHERE rn <= {_KMV_OVERLAP_K} GROUP BY grp
), truths AS (
  SELECT grp, COUNT(*) AS true_union,
         SUM(in_a * in_b) AS true_intersection
  FROM flagged GROUP BY grp
)
SELECT k.grp, k.kth_hash,
       ROUND(({_KMV_OVERLAP_K} - 1) / k.uval, 6) AS est_union,
       ROUND(CAST(b.both_cnt AS DOUBLE) / {_KMV_OVERLAP_K}, 6) AS jaccard_est,
       ROUND(CAST(b.both_cnt AS DOUBLE) / {_KMV_OVERLAP_K} * (({_KMV_OVERLAP_K} - 1) / k.uval), 6)
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
        .filter(F.col("__lrn") <= _KMV_OVERLAP_K)
    )
    ranked = pruned.withColumn(
        "rn", F.row_number().over(Window.partitionBy("grp").orderBy("h"))
    )
    kth = ranked.filter(F.col("rn") == _KMV_OVERLAP_K).select(
        "grp",
        F.col("h").alias("kth_hash"),
        (
            (F.conv(F.substring("h", 1, 13), 16, 10).cast("double") + F.lit(0.5))
            / F.lit(float(16**13))
        ).alias("uval"),
    )
    bottomk = (
        ranked.filter(F.col("rn") <= _KMV_OVERLAP_K)
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
            F.round(F.lit(float(_KMV_OVERLAP_K - 1)) / F.col("uval"), 6).alias("est_union"),
            F.round(F.col("both_cnt").cast("double") / _KMV_OVERLAP_K, 6).alias("jaccard_est"),
            F.round(
                F.col("both_cnt").cast("double")
                / _KMV_OVERLAP_K
                * (F.lit(float(_KMV_OVERLAP_K - 1)) / F.col("uval")),
                6,
            ).alias("est_intersection"),
            F.col("true_union").cast("long").alias("true_union"),
            F.col("true_intersection").cast("long").alias("true_intersection"),
        )
        .orderBy("grp")
    )


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
# Deterministic bootstrap CI for the mean order price ([ext] stats).
# 64 half-sample replicas: replica b keeps row r iff md5(b|key) is
# even, at weight 2 (Bernoulli-half bootstrap — an unbiased
# resampling scheme any engine replays exactly).  Replica means are
# exact integer-cents ratios; the 95% band is the 2nd/63rd order
# statistic of the 64 means (exact, tie-broken by replica id).
# Plan: a constant ×64 map-side explode, partial-aggregated into 64
# groups — shuffle volume is 64 rows regardless of input size.
QBOOT_ORACLE = f"""
WITH reps AS (
  SELECT b.b, o.o_orderkey,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         ({_sql_md5_mod('o_orderkey', 'r', 64)} % 2) * 2 AS w
  FROM orders o, (SELECT unnest(generate_series(0, 63)) AS b) b
), means AS (
  SELECT b, ROUND(CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) / 100.0, 6) AS m
  FROM reps WHERE w > 0 OR TRUE GROUP BY b
), ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM means
), point AS (
  SELECT ROUND(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 100.0, 6) AS mean_price
  FROM orders
)
SELECT CAST(64 AS BIGINT) AS n_reps,
       point.mean_price,
       MIN(CASE WHEN rn = 2 THEN m END) AS ci_lo,
       MIN(CASE WHEN rn = 63 THEN m END) AS ci_hi
FROM ranked, point
GROUP BY point.mean_price
"""


@declare(
    "q_bootstrap_ci_mean",
    oracle=QBOOT_ORACLE,
    description="Deterministic 64-replica half-sample bootstrap CI of the mean order price: md5 replica membership, exact cents means, order-statistic band (stats [ext])",
)
def q_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    # r12 (guide §2.3/§2.5): the replicate weight is a function of the
    # ORDER key alone, but it used to sit after the ×64 explode — 9.6M
    # md5 evaluations instead of 150k, all on the single-row-group
    # scan's one core (12.9 s at sf0.1).  Hash the weight once per
    # order, spread, THEN explode the replicate axis.
    from jibaro_spark.operators.util import ensure_parallelism

    per_order = ensure_parallelism(
        o.select(
            F.col("o_orderkey"),
            cents.alias("cents"),
            (F.pmod(_md5_mod(F.col("o_orderkey"), "r", 64), F.lit(2)) * 2).alias(
                "w"
            ),
        ),
        by="o_orderkey",
    )
    reps = per_order.select(
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        "o_orderkey",
        "cents",
        "w",
    )
    means = reps.groupBy("b").agg(
        F.round(
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w").cast("double")
            / F.lit(100.0),
            6,
        ).alias("m")
    )
    rw = Window.orderBy("m", "b")
    ranked = means.select("m", F.row_number().over(rw).alias("rn"))
    band = ranked.agg(
        F.min(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
        F.min(F.when(F.col("rn") == 63, F.col("m"))).alias("ci_hi"),
    )
    point = o.agg(
        F.round(
            F.sum(cents).cast("double") / F.count(F.lit(1)) / F.lit(100.0), 6
        ).alias("mean_price")
    )
    return point.crossJoin(band).select(
        F.lit(64).cast("bigint").alias("n_reps"), "mean_price", "ci_lo", "ci_hi"
    )


# ---------------------------------------------------------------------------
# Neyman optimal allocation ([ext] survey design — the design-side
# complement of the Horvitz-Thompson estimator): allocate a fixed
# sample budget n=1000 across order-priority strata ∝ N_h·S_h, then
# round to integers by largest remainder so the allocations sum to
# exactly 1000.  S_h comes from exact DECIMAL(38,4) moments (the
# variance formula is one double expression over exact inputs); each
# stratum weight is rounded to 6 decimals and re-enters the exact
# decimal domain before the shares, so floor/remainder arithmetic sees
# bit-identical inputs in both engines.  One grouped scan; everything
# after runs on #strata rows.
QNEYMAN_ORACLE = """
WITH s AS (
  SELECT o_orderpriority AS stratum,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sm,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sq
  FROM orders GROUP BY 1
), wts AS (
  SELECT stratum, n,
         SQRT((sq - sm * sm / n) / n) AS sd,
         CAST(ROUND(n * SQRT((sq - sm * sm / n) / n), 6) AS DECIMAL(28,6)) AS w
  FROM s
), shares AS (
  SELECT stratum, n, sd, w,
         CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE) AS share
  FROM wts
), base AS (
  SELECT stratum, n, sd, share,
         CAST(FLOOR(1000 * share) AS BIGINT) AS b,
         1000 * share - FLOOR(1000 * share) AS rem
  FROM shares
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS rk,
         CAST(1000 - SUM(b) OVER () AS BIGINT) AS extra
  FROM base
)
SELECT stratum,
       CAST(n AS BIGINT) AS n_orders,
       ROUND(sd, 6) AS sd_price,
       ROUND(share, 6) AS neyman_share,
       CAST(b + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM ranked
ORDER BY stratum
"""


@declare(
    "q_neyman_allocation",
    oracle=QNEYMAN_ORACLE,
    description="Neyman optimal sample allocation across priority strata (n_h ∝ N_h·S_h from exact decimal moments) with largest-remainder rounding to exactly n=1000 (survey design [ext])",
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    s = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("sm"),
        F.sum(dec * dec).cast("double").alias("sq"),
    )
    sd = F.sqrt((F.col("sq") - F.col("sm") * F.col("sm") / F.col("n")) / F.col("n"))
    wts = s.select(
        "stratum",
        "n",
        sd.alias("sd"),
        F.round(F.col("n") * sd, 6).cast("decimal(28,6)").alias("w"),
    )
    # everything below runs on #strata rows — the single-partition
    # windows are bounded by the stratum count, not the data
    tot = Window.partitionBy()
    shares = wts.withColumn(
        "share", F.col("w").cast("double") / F.sum("w").over(tot).cast("double")
    )
    base = shares.select(
        "stratum",
        "n",
        "sd",
        "share",
        F.floor(1000 * F.col("share")).cast("long").alias("b"),
        (1000 * F.col("share") - F.floor(1000 * F.col("share"))).alias("rem"),
    )
    rw = Window.orderBy(F.desc("rem"), F.asc("stratum"))
    ranked = base.withColumn("rk", F.row_number().over(rw)).withColumn(
        "extra", (F.lit(1000) - F.sum("b").over(tot)).cast("long")
    )
    return ranked.select(
        "stratum",
        F.col("n").cast("long").alias("n_orders"),
        F.round("sd", 6).alias("sd_price"),
        F.round("share", 6).alias("neyman_share"),
        (F.col("b") + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0))
        .cast("long")
        .alias("alloc"),
    ).orderBy("stratum")


# ---------------------------------------------------------------------------
# md5-verifiable HyperLogLog ([ext] sketches — the HLL twin of r6's
# q_cms_heavy_hitters_md5, shrinking the rows-only set: the production
# q_hll_mergeable_distinct uses Spark's Datasketches HLL whose
# estimates are engine-specific, so THIS query runs the whole register
# pipeline in portable arithmetic).  h = md5(key): first 2 hex digits
# → bucket (m=256), next 14 hex digits → a 56-bit word whose
# leading-zero count is derived by EXACT string/integer ops (strip
# leading '0' hex digits; the first nonzero digit contributes 0-3
# bits) — no float log2, which is off-by-ulp at exact powers of two.
# Z = Σ 2^(−M_j) is computed as an exact integer Σ 2^(57−M_j) in
# DECIMAL (≤ 256·2^57 < 2^66), one double division at the end; absent
# buckets contribute 2^57.  The raw (uncorrected) HLL estimator with
# α_256 written as the same literal expression both sides; the merged
# row demonstrates HLL's union law — per-bucket MAX of the per-group
# registers IS the union sketch, no rescan.
_HLL_RHO_SQL = """
CASE WHEN stripped = '' THEN 57
     ELSE 4 * (14 - LENGTH(stripped))
          + CASE WHEN substr(stripped, 1, 1) = '1' THEN 3
                 WHEN substr(stripped, 1, 1) IN ('2','3') THEN 2
                 WHEN substr(stripped, 1, 1) IN ('4','5','6','7') THEN 1
                 ELSE 0 END
          + 1 END
"""

QHLLMD5_ORACLE = f"""
WITH h AS (
  SELECT o_orderstatus AS grp, md5(CAST(o_custkey AS VARCHAR)) AS hx
  FROM orders
), parts AS (
  SELECT grp,
         CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) AS bucket,
         regexp_replace(substr(hx, 3, 14), '^0+', '') AS stripped
  FROM h
), regs AS (
  SELECT grp, bucket, CAST(MAX({_HLL_RHO_SQL}) AS BIGINT) AS m
  FROM parts GROUP BY 1, 2
), zsum AS (
  SELECT grp,
         CAST(SUM(CAST(CAST(1 AS BIGINT) << CAST(57 - m AS INTEGER) AS DECIMAL(38,0)))
              + (256 - COUNT(*)) * CAST(CAST(1 AS BIGINT) << 57 AS DECIMAL(38,0))
              AS DECIMAL(38,0)) AS zint,
         CAST(COUNT(*) AS BIGINT) AS n_regs
  FROM regs GROUP BY grp
), uregs AS (
  SELECT bucket, MAX(m) AS m FROM regs GROUP BY bucket
), uz AS (
  SELECT CAST(SUM(CAST(CAST(1 AS BIGINT) << CAST(57 - m AS INTEGER) AS DECIMAL(38,0)))
              + (256 - COUNT(*)) * CAST(CAST(1 AS BIGINT) << 57 AS DECIMAL(38,0))
              AS DECIMAL(38,0)) AS zint
  FROM uregs
), ex AS (
  SELECT o_orderstatus AS grp, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs
  FROM orders GROUP BY 1
)
SELECT z.grp, z.n_regs,
       ROUND((0.7213 / (1 + 1.079 / 256)) * 256 * 256
             / (CAST(z.zint AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 57 AS DOUBLE)), 6)
         AS hll_estimate,
       e.exact_custs,
       ROUND((0.7213 / (1 + 1.079 / 256)) * 256 * 256
             / (CAST(u.zint AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 57 AS DOUBLE)), 6)
         AS union_estimate
FROM zsum z JOIN ex e ON e.grp = z.grp CROSS JOIN uz u
ORDER BY z.grp
"""


@declare(
    "q_hll_union_md5",
    oracle=QHLLMD5_ORACLE,
    description="md5-mode HyperLogLog: portable register pipeline (exact leading-zero arithmetic, integer-exact Z sums) per order status + union-by-register-max merge — the verifiable twin of the Datasketches HLL rollup (sketches [ext])",
)
def q_hll_union_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    hx = F.md5(F.col("o_custkey").cast("string"))
    parts = o.select(
        F.col("o_orderstatus").alias("grp"),
        F.conv(F.substring(hx, 1, 2), 16, 10).cast("long").alias("bucket"),
        F.regexp_replace(F.substring(hx, 3, 14), "^0+", "").alias("stripped"),
    )
    first = F.substring("stripped", 1, 1)
    rho = F.when(F.col("stripped") == "", 57).otherwise(
        4 * (14 - F.length("stripped"))
        + F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
        + 1
    )
    regs = parts.withColumn("rho", rho).groupBy("grp", "bucket").agg(
        F.max("rho").cast("long").alias("m")
    )
    # F.shiftleft takes a literal bit count; the per-row shift needs expr()
    term = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(57 - m AS INT))").cast(
        "decimal(38,0)"
    )
    full = F.shiftleft(F.lit(1).cast("long"), 57).cast("decimal(38,0)")

    def zint(df, keys):
        return df.groupBy(*keys).agg(
            (F.sum(term) + (256 - F.count(F.lit(1))) * full)
            .cast("decimal(38,0)")
            .alias("zint"),
            F.count(F.lit(1)).cast("long").alias("n_regs"),
        )

    alpha_mm = F.lit(0.7213 / (1 + 1.079 / 256)) * 256 * 256
    denom = F.col("zint").cast("double") / F.shiftleft(
        F.lit(1).cast("long"), 57
    ).cast("double")
    zsum = zint(regs, ["grp"])
    # union law: per-bucket MAX across groups IS the union sketch
    uregs = regs.groupBy("bucket").agg(F.max("m").alias("m"))
    uz = zint(uregs, []).select(
        F.round(alpha_mm / denom, 6).alias("union_estimate")
    )
    ex = o.groupBy(F.col("o_orderstatus").alias("grp")).agg(
        F.count_distinct("o_custkey").cast("long").alias("exact_custs")
    )
    return (
        zsum.join(ex, "grp")
        .crossJoin(F.broadcast(uz))
        .select(
            "grp",
            "n_regs",
            F.round(alpha_mm / denom, 6).alias("hll_estimate"),
            "exact_custs",
            "union_estimate",
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# Effective sample size of importance weights ([ext] training-data
# reweighting diagnostics — the number that says whether a domain
# mixture/temperature scheme has collapsed onto a few documents:
# ESS = (Σw)²/Σw², reported per source with the weight concentration
# ratio ESS/n).  Weights here are the repo's mixture-temperature form
# (per-source share^(1/T − 1), T = 0.7, broadcast from a counts
# rollup); all sums are exact decimals over 6-decimal-rounded
# weights, the ratios single double expressions.  One scan + one
# keyed agg — the diagnostic costs nothing next to the pipeline it
# audits.
QESS_ORACLE = """
WITH cnt AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS nt
  FROM documents GROUP BY source
), w AS (
  SELECT source, n,
         CAST(ROUND(POWER(CAST(n AS DOUBLE) / nt, 1.0 / 0.7 - 1.0), 6)
              AS DECIMAL(7,6)) AS wgt
  FROM cnt
), s AS (
  SELECT w.source, w.n, w.wgt,
         CAST(SUM(CAST(w.n AS DECIMAL(13,0)) * w.wgt) OVER () AS DOUBLE) AS sw,
         CAST(SUM(CAST(w.n AS DECIMAL(13,0)) * w.wgt * w.wgt) OVER () AS DOUBLE)
           AS sww
  FROM w
)
SELECT source, n,
       CAST(wgt AS DOUBLE) AS weight,
       ROUND(sw * sw / sww, 6) AS ess,
       ROUND(sw * sw / sww / (SELECT SUM(n) FROM cnt), 6) AS ess_ratio
FROM s
ORDER BY source
"""


@declare(
    "q_effective_sample_size",
    oracle=QESS_ORACLE,
    description="effective sample size (Σw)²/Σw² of temperature-reweighted source weights — the collapse diagnostic for mixture reweighting, decimal-exact sums (reweighting [ext])",
)
def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tot = Window.partitionBy()
    cnt = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("nt", F.sum("n").over(tot).cast("long"))
    )
    # wgt = share^(1/T − 1) ≤ 1, so decimal(7,6) holds it exactly and
    # the n·w / n·w² products stay inside 38 digits — Spark's decimal
    # multiply silently reduces scale past precision 38, which is an
    # engine-specific rounding (the very thing the decimal lane exists
    # to avoid)
    w = cnt.withColumn(
        "wgt",
        F.round(
            F.pow(F.col("n").cast("double") / F.col("nt"), 1.0 / 0.7 - 1.0), 6
        ).cast("decimal(7,6)"),
    )
    s = w.select(
        "source",
        "n",
        "wgt",
        F.sum(F.col("n").cast("decimal(13,0)") * F.col("wgt"))
        .over(tot)
        .cast("double")
        .alias("sw"),
        F.sum(F.col("n").cast("decimal(13,0)") * F.col("wgt") * F.col("wgt"))
        .over(tot)
        .cast("double")
        .alias("sww"),
        F.sum("n").over(tot).cast("double").alias("ntot"),
    )
    ess = F.col("sw") * F.col("sw") / F.col("sww")
    return s.select(
        "source",
        "n",
        F.col("wgt").cast("double").alias("weight"),
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.col("ntot"), 6).alias("ess_ratio"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch ([ext] sketch family).  Fixed
# domain [0, 6e7) cents, 1024 equi-width bins (width 58593.75 cents —
# binary-exact, so the interpolation arithmetic is deterministic).
# Bin counts are map-side-combinable integers: merging two partitions'
# (or two days') histograms is elementwise addition, and quantile
# extraction runs over ≤ 1024 rows per group — the actual 100 TB
# approximate-quantile plan.  The exact lane (distinct-value ECDF,
# value-domain-bounded) rides along so the driver hash-checks the
# estimator's error, not just its plumbing.

_NB = 1024
_HI = 60_000_000  # cents; o_totalprice < 600k dollars by TPC-H construction
_W = 58593.75  # _HI / _NB, exactly representable

QHQ_ORACLE = f"""
WITH b AS (
  SELECT o_orderpriority AS pr,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM orders
), hist AS (
  SELECT pr, LEAST((c * {_NB}) // {_HI}, {_NB - 1}) AS bin, COUNT(*) AS cnt
  FROM b GROUP BY 1, 2
), h AS (
  SELECT pr, bin, cnt,
         SUM(cnt) OVER (PARTITION BY pr ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY pr) AS n
  FROM hist
), g AS (
  SELECT DISTINCT pr, n FROM h
), t AS (
  SELECT pr, n, 'p50' AS q, (n + 1) // 2 AS target FROM g
  UNION ALL SELECT pr, n, 'p90', (9 * n + 9) // 10 FROM g
  UNION ALL SELECT pr, n, 'p99', (99 * n + 99) // 100 FROM g
), est AS (
  SELECT h.pr, t.q, t.n,
         ROUND(((CAST(h.bin AS DOUBLE)
                 + CAST(t.target - (h.cum - h.cnt) AS DOUBLE)
                   / CAST(h.cnt AS DOUBLE)) * {_W}) / 100, 6) AS est
  FROM h JOIN t ON h.pr = t.pr
  WHERE h.cum >= t.target AND h.cum - h.cnt < t.target
), d AS (
  SELECT pr, c, COUNT(*) AS cnt FROM b GROUP BY 1, 2
), dc AS (
  SELECT pr, c,
         SUM(cnt) OVER (PARTITION BY pr ORDER BY c) AS cum
  FROM d
), ex AS (
  SELECT dc.pr, t.q, MIN(dc.c) AS ec
  FROM dc JOIN t ON dc.pr = t.pr
  WHERE dc.cum >= t.target
  GROUP BY dc.pr, t.q
)
SELECT est.pr, est.q,
       CAST(est.n AS BIGINT) AS n_rows,
       est.est AS est,
       ROUND(CAST(ex.ec AS DOUBLE) / 100, 6) AS exact,
       ROUND(est.est - ROUND(CAST(ex.ec AS DOUBLE) / 100, 6), 6) AS err
FROM est JOIN ex ON est.pr = ex.pr AND est.q = ex.q
ORDER BY est.pr, est.q
"""


@declare(
    "q_hist_quantile_sketch",
    oracle=QHQ_ORACLE,
    description="Mergeable fixed-bin histogram quantiles (p50/p90/p99 interpolated from integer bin counts) vs the exact distinct-value ECDF — the approx-quantile sketch's exact-replay twin (sketches [ext])",
)
def q_hist_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    b = o.select(F.col("o_orderpriority").alias("pr"), cents.alias("c"))
    hist = (
        b.withColumn("bin", F.expr(f"least((c * {_NB}) div {_HI}, {_NB - 1})"))
        .groupBy("pr", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum_w = (
        Window.partitionBy("pr")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h = hist.select(
        "pr",
        "bin",
        "cnt",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("pr")).alias("n"),
    )
    t = (
        h.select("pr", "n")
        .distinct()
        .select(
            "pr",
            "n",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("p50").alias("q"), F.expr("(n + 1) div 2").alias("target")
                    ),
                    F.struct(
                        F.lit("p90").alias("q"),
                        F.expr("(9 * n + 9) div 10").alias("target"),
                    ),
                    F.struct(
                        F.lit("p99").alias("q"),
                        F.expr("(99 * n + 99) div 100").alias("target"),
                    ),
                )
            ).alias("s"),
        )
        .select("pr", "n", F.col("s.q").alias("q"), F.col("s.target").alias("target"))
    )
    est = (
        h.join(F.broadcast(t.drop("n")), "pr")
        .where((F.col("cum") >= F.col("target")) & (F.col("cum") - F.col("cnt") < F.col("target")))
        .select(
            "pr",
            "q",
            F.round(
                (
                    (
                        F.col("bin").cast("double")
                        + (F.col("target") - (F.col("cum") - F.col("cnt"))).cast("double")
                        / F.col("cnt").cast("double")
                    )
                    * F.lit(_W)
                )
                / F.lit(100.0),
                6,
            ).alias("est"),
        )
    )
    dcum = (
        Window.partitionBy("pr")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # explicit pr-keyed exchange (r12, see dense_exchange): the exact
    # distinct-value ECDF window runs per priority class (5 groups)
    # over ~10^5 distinct prices and AQE's byte-based coalescing
    # otherwise collapses it below 5 tasks
    from jibaro_spark.operators.util import dense_exchange

    dc = (
        dense_exchange(
            b.groupBy("pr", "c").agg(F.count(F.lit(1)).alias("cnt")), "pr"
        )
        .select("pr", "c", F.sum("cnt").over(dcum).alias("cum"))
    )
    ex = (
        dc.join(F.broadcast(t.drop("n")), "pr")
        .where(F.col("cum") >= F.col("target"))
        .groupBy("pr", "q")
        .agg(F.round(F.min("c").cast("double") / F.lit(100.0), 6).alias("exact"))
    )
    return (
        est.join(ex, ["pr", "q"])
        .join(F.broadcast(t.select("pr", "q", "n")), ["pr", "q"])
        .select(
            "pr",
            "q",
            F.col("n").cast("long").alias("n_rows"),
            "est",
            "exact",
            F.round(F.col("est") - F.col("exact"), 6).alias("err"),
        )
        .orderBy("pr", "q")
    )


# ---------------------------------------------------------------------------
# End-biased-histogram join-size estimation ([ext] — the optimizer /
# AQE primitive behind skew-aware planning; companion to the round-5
# salted-join skew diagnostics).  Per returnflag, the lineitem
# self-join size on l_partkey is estimated from the top-20 heavy keys
# (exact counts) plus a uniform assumption on the remainder, and
# compared to the exact Σ c_k².  Counts-first: the per-key count
# table is the only input to both lanes; top-20 is a bounded window
# over it (at 100 TB: TakeOrdered per flag), the rest is two global
# sums.  All integer until the final division.

QJS_ORACLE = """
WITH c AS (
  SELECT l_returnflag AS flag, l_partkey AS k, COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT flag, k, cnt,
         ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cnt DESC, k) AS rk
  FROM c
), agg AS (
  SELECT flag,
         SUM(CAST(cnt AS HUGEINT) * cnt) AS exact_pairs,
         SUM(CASE WHEN rk <= 20 THEN CAST(cnt AS HUGEINT) * cnt ELSE 0 END)
           AS top_pairs,
         SUM(CASE WHEN rk > 20 THEN cnt ELSE 0 END) AS rest_tot,
         SUM(CASE WHEN rk > 20 THEN 1 ELSE 0 END) AS rest_keys
  FROM ranked GROUP BY flag
)
SELECT flag,
       CAST(exact_pairs AS BIGINT) AS exact_pairs,
       ROUND(CAST(top_pairs AS DOUBLE)
             + CASE WHEN rest_keys > 0
                    THEN CAST(CAST(rest_tot AS HUGEINT) * rest_tot AS DOUBLE)
                         / CAST(rest_keys AS DOUBLE)
                    ELSE 0 END, 4) AS est_pairs,
       ROUND((CAST(top_pairs AS DOUBLE)
              + CASE WHEN rest_keys > 0
                     THEN CAST(CAST(rest_tot AS HUGEINT) * rest_tot AS DOUBLE)
                          / CAST(rest_keys AS DOUBLE)
                     ELSE 0 END
              - CAST(exact_pairs AS DOUBLE))
             / CAST(exact_pairs AS DOUBLE) * 100, 6) AS rel_err_pct
FROM agg ORDER BY flag
"""


@declare(
    "q_join_size_estimate",
    oracle=QJS_ORACLE,
    description="End-biased-histogram join-cardinality estimation per returnflag: top-20 heavy keys exact + uniform rest vs the exact self-join size on l_partkey (optimizer/AQE [ext])",
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    c = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_partkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    rk_w = Window.partitionBy("flag").orderBy(F.col("cnt").desc(), "k")
    ranked = c.withColumn("rk", F.row_number().over(rk_w))
    d = F.col("cnt").cast("decimal(38,0)")
    agg = ranked.groupBy("flag").agg(
        F.sum(d * F.col("cnt")).alias("exact_pairs"),
        F.sum(F.when(F.col("rk") <= 20, d * F.col("cnt")).otherwise(F.lit(0))).alias(
            "top_pairs"
        ),
        F.sum(F.when(F.col("rk") > 20, F.col("cnt")).otherwise(F.lit(0))).alias(
            "rest_tot"
        ),
        F.sum(F.when(F.col("rk") > 20, 1).otherwise(0)).alias("rest_keys"),
    )
    est_rest = F.when(
        F.col("rest_keys") > 0,
        (F.col("rest_tot").cast("decimal(38,0)") * F.col("rest_tot")).cast("double")
        / F.col("rest_keys").cast("double"),
    ).otherwise(F.lit(0.0))
    est = F.col("top_pairs").cast("double") + est_rest
    return agg.select(
        "flag",
        F.col("exact_pairs").cast("long").alias("exact_pairs"),
        F.round(est, 4).alias("est_pairs"),
        F.round(
            (est - F.col("exact_pairs").cast("double"))
            / F.col("exact_pairs").cast("double")
            * 100,
            6,
        ).alias("rel_err_pct"),
    ).orderBy("flag")


# ---------------------------------------------------------------------------
# SpaceSaving batch twin.  Group = day-of-week of the event timestamp
# (epoch-day arithmetic), item = event_type, order = event_id, m = 64
# ≥ the distinct event types, so the sketch is exact and the oracle is
# a plain grouped count.

QSSB_ORACLE = """
WITH e AS (
  SELECT CAST((CAST(epoch_us(ts) AS BIGINT) // 86400000000 + 4) % 7 AS VARCHAR)
           AS dow,
         event_type
  FROM events
  -- the stateful kernel drops NULL group keys and NULL items (r8
  -- NULL hardening) — the batch twin's frame must match
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
)
SELECT dow, event_type,
       CAST(COUNT(*) AS BIGINT) AS est_count,
       CAST(0 AS BIGINT) AS max_error
FROM e GROUP BY dow, event_type
ORDER BY dow, event_type
"""


@declare(
    "q_space_saving_batch",
    oracle=QSSB_ORACLE,
    description="SpaceSaving heavy hitters, batch-equivalence form of the m-bounded applyInPandasWithState streaming sketch — exact at m >= distinct items, so fully SQL-oracled (streaming/sketch [ext])",
)
def q_space_saving_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.streaming.windows import streaming_space_saving

    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    src = ev.select(
        F.expr("cast((unix_micros(ts) div 86400000000 + 4) % 7 as string)").alias(
            "dow"
        ),
        "event_type",
        "event_id",
    )
    out = streaming_space_saving(
        src, group_col="dow", item_col="event_type", order_col="event_id", m=64
    )
    return out.orderBy("dow", "event_type")


# ---------------------------------------------------------------------------
# IPF raking.  Uniform targets: t_row = N/#segments, t_col =
# N/#nations.  Per iteration: w ← round(w · t_row / rowsum(w), 10)
# then w ← round(w · t_col / colsum(w), 10); margin sums are
# decimal-accumulated (order-free), so the weight sequence is
# bit-identical in both engines.

_IPF_ITER_SQL = """
, r{i} AS (
  SELECT seg, CAST(SUM(CAST(w AS DECIMAL(28,10))) AS DOUBLE) AS rs
  FROM {src} GROUP BY seg
), w{i}a AS (
  SELECT c.seg, c.nat, c.n,
         ROUND(c.w * t.t_row / r.rs, 10) AS w
  FROM {src} c JOIN r{i} r USING (seg) CROSS JOIN tgt t
), c{i} AS (
  SELECT nat, CAST(SUM(CAST(w AS DECIMAL(28,10))) AS DOUBLE) AS cs
  FROM w{i}a GROUP BY nat
), w{i} AS (
  SELECT a.seg, a.nat, a.n,
         ROUND(a.w * t.t_col / c.cs, 10) AS w
  FROM w{i}a a JOIN c{i} c USING (nat) CROSS JOIN tgt t
)"""

QIPF_ORACLE = (
    """
WITH cells AS (
  SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY c_mktsegment, c_nationkey
), tgt AS (
  SELECT CAST(SUM(n) AS DOUBLE) / COUNT(DISTINCT seg) AS t_row,
         CAST(SUM(n) AS DOUBLE) / COUNT(DISTINCT nat) AS t_col
  FROM cells
), w0 AS (
  SELECT seg, nat, n, CAST(n AS DOUBLE) AS w FROM cells
)"""
    + _IPF_ITER_SQL.format(i=1, src="w0")
    + _IPF_ITER_SQL.format(i=2, src="w1")
    + _IPF_ITER_SQL.format(i=3, src="w2")
    + """
SELECT seg, nat, n, ROUND(w, 6) AS raked_w
FROM w3 ORDER BY seg, nat
"""
)


@declare(
    "q_ipf_raking",
    oracle=QIPF_ORACLE,
    description="Iterative proportional fitting (survey raking) of the segment × nation table to uniform margins: 3 IPF iterations, rounded weights + decimal margin sums keep both engines on the identical weight sequence (survey statistics [ext])",
)
def q_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    cells = cust.groupBy(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("long").alias("nat"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    cells = cells.localCheckpoint(eager=True)  # 3 iterations re-consume
    tgt = cells.agg(
        (F.sum("n").cast("double") / F.countDistinct("seg")).alias("t_row"),
        (F.sum("n").cast("double") / F.countDistinct("nat")).alias("t_col"),
    )
    w = cells.withColumn("w", F.col("n").cast("double"))
    for _ in range(3):
        rs = w.groupBy("seg").agg(
            F.sum(F.col("w").cast("decimal(28,10)")).cast("double").alias("rs")
        )
        w = (
            w.join(F.broadcast(rs), "seg")
            .crossJoin(F.broadcast(tgt))
            .select(
                "seg",
                "nat",
                "n",
                F.round(F.col("w") * F.col("t_row") / F.col("rs"), 10).alias("w"),
            )
        )
        cs = w.groupBy("nat").agg(
            F.sum(F.col("w").cast("decimal(28,10)")).cast("double").alias("cs")
        )
        w = (
            w.join(F.broadcast(cs), "nat")
            .crossJoin(F.broadcast(tgt))
            .select(
                "seg",
                "nat",
                "n",
                F.round(F.col("w") * F.col("t_col") / F.col("cs"), 10).alias("w"),
            )
        )
        # Pin each iteration's weights (r12, guide §3.3 "very large
        # plans"): w is consumed twice per half-step (margin sum +
        # rescale join), so the unpinned loop QUADRUPLED the plan per
        # iteration — 632 Exchange nodes over a ≤(segments × nations)-
        # row table, and the 2.9 s wall was scheduling/planning, not
        # data.  Lazy: the next margin sum's job materializes the
        # ≤125-row frame.
        w = w.localCheckpoint(eager=False)
    return w.select(
        "seg", "nat", "n", F.round("w", 6).alias("raked_w")
    ).orderBy("seg", "nat")


QCAP_ORACLE = """
WITH universe AS (
  SELECT DISTINCT o_custkey AS k FROM orders
), marked AS (
  SELECT k, CAST(('0x' || substr(md5('a|' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
              % 10 < 3 AS in_a,
         CAST(('0x' || substr(md5('b|' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
              % 10 < 3 AS in_b
  FROM universe
), cnt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS nab
  FROM marked
)
SELECT n_true, na, nb, nab,
       ROUND((CAST(na AS DOUBLE) + 1) * (nb + 1) / (nab + 1) - 1, 6)
         AS chapman_estimate,
       ROUND(((CAST(na AS DOUBLE) + 1) * (nb + 1) / (nab + 1) - 1) / n_true, 6)
         AS estimate_ratio
FROM cnt
"""


@declare(
    "q_capture_recapture",
    oracle=QCAP_ORACLE,
    description="Lincoln-Petersen/Chapman capture-recapture estimate of the active-customer universe from two independent md5 capture samples, checked against the true size (population estimation [ext])",
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    uni = orders.select(F.col("o_custkey").alias("k")).distinct()

    def md5_mark(salt):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}|"), F.col("k").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 10
            < 3
        )

    marked = uni.select(md5_mark("a").alias("in_a"), md5_mark("b").alias("in_b"))
    cnt = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum(F.col("in_a").cast("int")).cast("long").alias("na"),
        F.sum(F.col("in_b").cast("int")).cast("long").alias("nb"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("int")).cast("long").alias("nab"),
    )
    chapman = (F.col("na").cast("double") + 1) * (F.col("nb") + 1) / (
        F.col("nab") + 1
    ) - 1
    return cnt.select(
        "n_true",
        "na",
        "nb",
        "nab",
        F.round(chapman, 6).alias("chapman_estimate"),
        F.round(chapman / F.col("n_true"), 6).alias("estimate_ratio"),
    )


QBK_ORACLE = """
WITH items AS (
  SELECT DISTINCT event_type AS etype, CAST(user_id AS VARCHAR) AS uid
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
), pri AS (
  SELECT etype, uid, md5(uid) AS priority,
         ROW_NUMBER() OVER (PARTITION BY etype ORDER BY md5(uid), uid) AS rk
  FROM items
)
SELECT etype, uid AS user_id, priority, CAST(rk AS BIGINT) AS rank
FROM pri WHERE rk <= 16
ORDER BY etype, rank
"""


@declare(
    "q_bottomk_sample",
    oracle=QBK_ORACLE,
    description="Deterministic bottom-k (KMV) distinct-user sample per event type — md5 priorities make the sample order/duplicate-insensitive, so batch SQL, the Spark plan, and the streaming applyInPandasWithState sketch all agree exactly (sampling [ext])",
)
def q_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a NULL user is not a sampleable member and a NULL type is not a
    # group (NULL md5 priorities also rank opposite ways cross-engine)
    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    items = ev.select(
        F.col("event_type").alias("etype"),
        F.col("user_id").cast("string").alias("uid"),
    ).distinct()
    pri = items.withColumn("priority", F.md5(F.col("uid")))
    w = Window.partitionBy("etype").orderBy("priority", "uid")
    return (
        pri.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 16)
        .select(
            "etype",
            F.col("uid").alias("user_id"),
            "priority",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("etype", "rank")
    )


# ---------------------------------------------------------------------------
# Mergeable priority-sample quantile sketch (md5 mode).

_QS_K = 512
# ceil(p * 512) for p in (0.25, 0.50, 0.75, 0.95)
_QS_RANKS = {"p25": 128, "p50": 256, "p75": 384, "p95": 487}
# ceil(p * n) as exact integer arithmetic: (num*n + den - 1) DIV den
_QS_FRACS = {"p25": (1, 4), "p50": (1, 2), "p75": (3, 4), "p95": (19, 20)}

QAQMD5_ORACLE = f"""
WITH fen AS (
  -- NULL/finite contract: a NULL key has no md5 priority, and a
  -- NULL/NaN/Inf price cannot sit on an ECDF axis (float fuzz sweep)
  SELECT o_orderkey AS k, o_totalprice AS price,
         md5(CAST(o_orderkey AS VARCHAR)) AS h
  FROM orders
  WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
    AND isfinite(o_totalprice)
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM fen
), samp AS (
  SELECT price FROM fen ORDER BY h, k LIMIT {_QS_K}
), secdf AS (
  SELECT price, SUM(cnt) OVER (ORDER BY price) AS cum
  FROM (SELECT price, COUNT(*) AS cnt FROM samp GROUP BY price)
), est AS (
  SELECT
    MIN(CASE WHEN cum >= {_QS_RANKS['p25']} THEN price END) AS p25_est,
    MIN(CASE WHEN cum >= {_QS_RANKS['p50']} THEN price END) AS p50_est,
    MIN(CASE WHEN cum >= {_QS_RANKS['p75']} THEN price END) AS p75_est,
    MIN(CASE WHEN cum >= {_QS_RANKS['p95']} THEN price END) AS p95_est
  FROM secdf
), fecdf AS (
  SELECT price, SUM(cnt) OVER (ORDER BY price) AS cum
  FROM (SELECT price, COUNT(*) AS cnt FROM fen GROUP BY price)
), ex AS (
  SELECT
    MIN(CASE WHEN cum >= (1 * n.n_rows + 3) // 4 THEN price END) AS p25_exact,
    MIN(CASE WHEN cum >= (1 * n.n_rows + 1) // 2 THEN price END) AS p50_exact,
    MIN(CASE WHEN cum >= (3 * n.n_rows + 3) // 4 THEN price END) AS p75_exact,
    MIN(CASE WHEN cum >= (19 * n.n_rows + 19) // 20 THEN price END) AS p95_exact
  FROM fecdf, n
)
SELECT n.n_rows, CAST({_QS_K} AS BIGINT) AS n_sample,
       est.p25_est, est.p50_est, est.p75_est, est.p95_est,
       ex.p25_exact, ex.p50_exact, ex.p75_exact, ex.p95_exact,
       ROUND(ABS(est.p25_est - ex.p25_exact), 6) AS p25_err,
       ROUND(ABS(est.p50_est - ex.p50_exact), 6) AS p50_err,
       ROUND(ABS(est.p75_est - ex.p75_exact), 6) AS p75_err,
       ROUND(ABS(est.p95_est - ex.p95_exact), 6) AS p95_err
FROM est, ex, n
"""


@declare(
    "q_approx_quantiles_md5",
    oracle=QAQMD5_ORACLE,
    description="md5-mode quantile sketch: mergeable bottom-512 priority sample (associative bottom-k, partition samples union+re-truncate), quantiles off the sample's integer ECDF vs exact ECDF + abs error — the verifiable twin of q_approx_quantiles (sketches [ext])",
)
def q_approx_quantiles_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    inf = float("inf")
    # NULL/finite contract mirrored in the oracle (see QAQMD5_ORACLE)
    fen = orders.filter(
        F.col("o_orderkey").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & ~F.isnan("o_totalprice")
        & (F.abs("o_totalprice") < inf)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.md5(F.col("o_orderkey").cast("string")).alias("h"),
    )
    n1 = fen.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    # bottom-k by md5 priority: global TakeOrdered, never a full sort —
    # and the merge law at 100 TB is free (bottom-k of per-partition
    # bottom-k unions IS the global bottom-k)
    samp = fen.orderBy("h", "k").limit(_QS_K).select("price")

    def ecdf(df: DataFrame) -> DataFrame:
        # counts-first collapse: the cumulative window runs over the
        # value-domain-bounded distinct-price table, never row volume
        counts = df.groupBy("price").agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, 0)
        return counts.withColumn("cum", F.sum("cnt").over(w))

    est = ecdf(samp).agg(
        *[
            F.min(F.when(F.col("cum") >= r, F.col("price"))).alias(f"{p}_est")
            for p, r in _QS_RANKS.items()
        ]
    )
    ex = (
        ecdf(fen.select("price"))
        .crossJoin(F.broadcast(n1))
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum")
                        >= F.expr(
                            f"CAST(({num} * n_rows + {den} - 1) DIV {den} AS BIGINT)"
                        ),
                        F.col("price"),
                    )
                ).alias(f"{p}_exact")
                for p, (num, den) in _QS_FRACS.items()
            ]
        )
    )
    return (
        est.crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(n1))
        .select(
            "n_rows",
            F.lit(_QS_K).cast("long").alias("n_sample"),
            *[f"{p}_est" for p in _QS_RANKS],
            *[f"{p}_exact" for p in _QS_RANKS],
            *[
                F.round(F.abs(F.col(f"{p}_est") - F.col(f"{p}_exact")), 6).alias(
                    f"{p}_err"
                )
                for p in _QS_RANKS
            ],
        )
    )


# ---------------------------------------------------------------------------
# md5-mode HyperLogLog at the production design point: m=1024 with the
# small-range linear-counting correction.  Bucket = first 3 hex digits
# of md5(key) mod 1024; rho = leading-zero count of the NEXT 13 hex
# digits (52-bit word) + 1 via exact string/integer ops (no float
# log2); Z accumulates as the exact integer Σ 2^(53 − M_j) in DECIMAL
# (≤ 1024·2^53 = 2^63, which overflows BIGINT by exactly one — hence
# decimal).  The correction branch E ≤ 2.5m ∧ V>0 → m·ln(m/V) is the
# estimator real HLL implementations serve at low fill — the fixtures'
# regime (≈130–1300 distinct keys per priority vs m=1024), so BOTH
# engines execute the branch, not just declare it.
_HLL2_M = 1024
_HLL2_RHO_SQL = """
CASE WHEN stripped = '' THEN 53
     ELSE 4 * (13 - LENGTH(stripped))
          + CASE WHEN substr(stripped, 1, 1) = '1' THEN 3
                 WHEN substr(stripped, 1, 1) IN ('2','3') THEN 2
                 WHEN substr(stripped, 1, 1) IN ('4','5','6','7') THEN 1
                 ELSE 0 END
          + 1 END
"""
# alpha_1024 * m * m, written as the same literal expression both sides
_HLL2_ALPHA_MM = "(0.7213 / (1 + 1.079 / 1024)) * 1024 * 1024"
# corrected estimate from (zint, n_regs): raw = alpha*m^2 / (zint/2^53);
# V = m - n_regs; linear counting when raw <= 2.5m and V > 0
_HLL2_EST_SQL = f"""
ROUND(CASE WHEN ({_HLL2_ALPHA_MM}
                 / (CAST(zint AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 53 AS DOUBLE)))
                <= 2.5 * 1024
            AND {_HLL2_M} - n_regs > 0
       THEN 1024.0 * ln(1024.0 / CAST({_HLL2_M} - n_regs AS DOUBLE))
       ELSE {_HLL2_ALPHA_MM}
            / (CAST(zint AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 53 AS DOUBLE))
       END, 6)
"""

QHLL2_ORACLE = f"""
WITH h AS (
  -- NULL contract: a NULL key has no hash; a NULL priority is a valid
  -- group on both engines (hash compare is row-sorted)
  SELECT o_orderpriority AS grp, md5(CAST(o_custkey AS VARCHAR)) AS hx
  FROM orders WHERE o_custkey IS NOT NULL
), parts AS (
  SELECT grp,
         CAST(('0x' || substr(hx, 1, 3)) AS BIGINT) % {_HLL2_M} AS bucket,
         regexp_replace(substr(hx, 4, 13), '^0+', '') AS stripped
  FROM h
), regs AS (
  SELECT grp, bucket, CAST(MAX({_HLL2_RHO_SQL}) AS BIGINT) AS m
  FROM parts GROUP BY 1, 2
), zsum AS (
  SELECT grp,
         CAST(SUM(CAST(CAST(1 AS BIGINT) << CAST(53 - m AS INTEGER) AS DECIMAL(38,0)))
              + ({_HLL2_M} - COUNT(*)) * CAST(CAST(1 AS BIGINT) << 53 AS DECIMAL(38,0))
              AS DECIMAL(38,0)) AS zint,
         CAST(COUNT(*) AS BIGINT) AS n_regs
  FROM regs GROUP BY grp
), uregs AS (
  SELECT bucket, MAX(m) AS m FROM regs GROUP BY bucket
), uz AS (
  SELECT CAST(SUM(CAST(CAST(1 AS BIGINT) << CAST(53 - m AS INTEGER) AS DECIMAL(38,0)))
              + ({_HLL2_M} - COUNT(*)) * CAST(CAST(1 AS BIGINT) << 53 AS DECIMAL(38,0))
              AS DECIMAL(38,0)) AS zint,
         CAST(COUNT(*) AS BIGINT) AS n_regs
  FROM uregs
), ex AS (
  SELECT o_orderpriority AS grp,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
)
SELECT z.grp, z.n_regs, {_HLL2_EST_SQL.replace('zint', 'z.zint').replace('n_regs', 'z.n_regs')} AS hll_estimate,
       e.exact_custs,
       (SELECT {_HLL2_EST_SQL.replace('zint', 'uz.zint').replace('n_regs', 'uz.n_regs')} FROM uz) AS union_estimate
FROM zsum z JOIN ex e ON e.grp IS NOT DISTINCT FROM z.grp
ORDER BY z.grp
"""


@declare(
    "q_hll_mergeable_distinct_md5",
    oracle=QHLL2_ORACLE,
    description="md5-mode HLL at the production design point (m=1024 + small-range linear-counting correction, branch actually taken) per order priority + union-by-register-max rollup — the verifiable twin of q_hll_mergeable_distinct (sketches [ext])",
)
def q_hll_mergeable_distinct_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract mirrored in the oracle
    o = o.filter(F.col("o_custkey").isNotNull())
    hx = F.md5(F.col("o_custkey").cast("string"))
    parts = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.pmod(
            F.conv(F.substring(hx, 1, 3), 16, 10).cast("long"), F.lit(_HLL2_M)
        ).alias("bucket"),
        F.regexp_replace(F.substring(hx, 4, 13), "^0+", "").alias("stripped"),
    )
    first = F.substring("stripped", 1, 1)
    rho = F.when(F.col("stripped") == "", 53).otherwise(
        4 * (13 - F.length("stripped"))
        + F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
        + 1
    )
    regs = parts.withColumn("rho", rho).groupBy("grp", "bucket").agg(
        F.max("rho").cast("long").alias("m")
    )
    term = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m AS INT))").cast(
        "decimal(38,0)"
    )
    full = F.shiftleft(F.lit(1).cast("long"), 53).cast("decimal(38,0)")

    def zsum(df: DataFrame, keys: "list[str]") -> DataFrame:
        return df.groupBy(*keys).agg(
            (F.sum(term) + (_HLL2_M - F.count(F.lit(1))) * full)
            .cast("decimal(38,0)")
            .alias("zint"),
            F.count(F.lit(1)).cast("long").alias("n_regs"),
        )

    alpha_mm = F.lit(0.7213 / (1 + 1.079 / 1024)) * 1024 * 1024
    two53 = F.shiftleft(F.lit(1).cast("long"), 53).cast("double")
    raw = alpha_mm / (F.col("zint").cast("double") / two53)
    v = F.lit(_HLL2_M) - F.col("n_regs")
    corrected = F.round(
        F.when(
            (raw <= F.lit(2.5 * 1024)) & (v > 0),
            F.lit(1024.0) * F.log(F.lit(1024.0) / v.cast("double")),
        ).otherwise(raw),
        6,
    )
    per_grp = zsum(regs, ["grp"])
    # union law: per-bucket MAX across groups IS the union sketch
    uregs = regs.groupBy("bucket").agg(F.max("m").alias("m"))
    uz = zsum(uregs, []).select(corrected.alias("union_estimate"))
    ex = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count_distinct("o_custkey").cast("long").alias("exact_custs")
    )
    return (
        per_grp.withColumn("hll_estimate", corrected)
        .join(ex, per_grp["grp"].eqNullSafe(ex["grp"]))
        .drop(ex["grp"])
        .crossJoin(F.broadcast(uz))
        .select("grp", "n_regs", "hll_estimate", "exact_custs", "union_estimate")
        .orderBy("grp")
    )
