"""Round-5 declared queries: n-column Z-order locality, and further
scale/curation operators ([ext] — Spark-native machinery the reference
engine lacks)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jibaro_spark.queries.registry import declare, load_tables

# ---------------------------------------------------------------------------
# 3-key Z-order layout (VERDICT r4 §Next-6): real OPTIMIZE ZORDER
# interleaves ANY column set — bit i of key j lands at z-bit i·3+j.
# The locality claim is the oracle-checked output itself: bucketing
# z-space bounds the min/max span of ALL THREE keys per bucket, so
# min/max file stats prune scans filtered on any of them.  Bit
# arithmetic is generated from the same Python constants for both
# engines (the 2-key form is q_zorder_layout in extra.py).
_Z3BITS = 8  # 3 × 8 = 24 z-bits
_Z3TERMS_SQL = " + ".join(
    f"((x // {2**i}) % 2) * {2 ** (3 * i)} "
    f"+ ((y // {2**i}) % 2) * {2 ** (3 * i + 1)} "
    f"+ ((w // {2**i}) % 2) * {2 ** (3 * i + 2)}"
    for i in range(_Z3BITS)
)
QZORDER3_ORACLE = f"""
WITH k AS (
  SELECT o_custkey % 256 AS x, o_orderkey % 256 AS y,
         CAST(FLOOR(o_totalprice) AS BIGINT) % 256 AS w
  FROM orders
), z AS (
  SELECT x, y, w, CAST({_Z3TERMS_SQL} AS BIGINT) AS zv FROM k
)
SELECT CAST(zv // {8**_Z3BITS // 64} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
       CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max,
       CAST(MIN(w) AS BIGINT) AS w_min, CAST(MAX(w) AS BIGINT) AS w_max
FROM z
GROUP BY bucket
ORDER BY bucket
"""


@declare(
    "q_zorder3_layout",
    oracle=QZORDER3_ORACLE,
    description="3-key Morton/Z-order interleave + per-z-bucket triple-key spans — n-column generalization of the data-layout primitive (K11 family [ext])",
)
def q_zorder3_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import zorder_value

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    k = orders.select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.col("o_orderkey") % 256).alias("y"),
        (F.floor("o_totalprice").cast("long") % 256).alias("w"),
    )
    z = k.select(
        "x",
        "y",
        "w",
        zorder_value(F.col("x"), F.col("y"), F.col("w"), bits=_Z3BITS).alias("zv"),
    )
    bucket_width = 8**_Z3BITS // 64
    return (
        z.groupBy(
            F.floor(F.col("zv") / F.lit(bucket_width)).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").cast("long").alias("x_min"),
            F.max("x").cast("long").alias("x_max"),
            F.min("y").cast("long").alias("y_min"),
            F.max("y").cast("long").alias("y_max"),
            F.min("w").cast("long").alias("w_min"),
            F.max("w").cast("long").alias("w_max"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# SCD2 versioned dimension build (operators/cdc.scd2_apply): close out
# the current version of every changed key, append the new version,
# keep full history — the versioned-dimension sibling of the
# reference's last-write-wins MERGE (cdc.py:203-216).  The change
# batch is deterministic: every 5th order repriced +100.00 effective
# 1998-12-01 (an exact double addition — a ×1.1 ROUND would land on
# .005 ties where Spark rounds HALF_UP and DuckDB HALF_EVEN).  One
# key-partitioned join; history passes through.
QSCD2_ORACLE = """
WITH dim AS (
  SELECT o_orderkey, o_totalprice,
         CAST(o_orderdate AS DATE) AS valid_from,
         CAST(NULL AS DATE) AS valid_to
  FROM orders
), chg AS (
  SELECT o_orderkey,
         CAST(o_totalprice + 100.0 AS DOUBLE) AS o_totalprice,
         DATE '1998-12-01' AS eff
  FROM orders WHERE o_orderkey % 5 = 0
), expired AS (
  SELECT d.o_orderkey, d.o_totalprice, d.valid_from, c.eff AS valid_to
  FROM dim d JOIN chg c USING (o_orderkey)
), untouched AS (
  SELECT d.* FROM dim d ANTI JOIN chg c USING (o_orderkey)
), fresh AS (
  SELECT o_orderkey, o_totalprice, eff AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM chg
)
SELECT o_orderkey, o_totalprice, valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM (SELECT * FROM expired UNION ALL SELECT * FROM untouched
      UNION ALL SELECT * FROM fresh)
ORDER BY o_orderkey, valid_from, is_current
"""


@declare(
    "q_scd2_history",
    oracle=QSCD2_ORACLE,
    description="SCD type-2 dimension apply: close-out + append versioned rows, full history kept (CDC family [ext])",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import scd2_apply

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    dim = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    chg = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).cast("double").alias("o_totalprice"),
        F.lit("1998-12-01").cast("date").alias("eff"),
    )
    out = scd2_apply(dim, chg, keys=["o_orderkey"], effective_col="eff")
    return (
        out.withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("o_orderkey", "valid_from", "is_current")
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
# Source-mix concentration (Gini over per-source token mass): THE
# data-mixing diagnostic for corpus curation — a gini near 1 means one
# source dominates the training mix.  All sums are exact integers
# (token counts), products rank×tokens stay < 2^53, so the double
# arithmetic is bit-identical across engines; the only rounding is the
# final 6 dp.  Two tiny aggregations (per-source rollup is
# #sources-bounded); the corpus is touched once.
_R5_TOKS = "string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')"
QGINI_ORACLE = f"""
WITH per_source AS (
  SELECT source, CAST(SUM(len({_R5_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), ranked AS (
  SELECT source, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS rnk
  FROM per_source
), g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(n_tokens) AS DOUBLE) AS total,
         CAST(SUM(rnk * n_tokens) AS DOUBLE) AS weighted
  FROM ranked
)
SELECT r.source, r.n_tokens,
       CAST(r.rnk AS BIGINT) AS rnk,
       ROUND(CAST(r.n_tokens AS DOUBLE) / g.total, 6) AS share,
       ROUND(2.0 * g.weighted / (g.n * g.total) - (g.n + 1.0) / g.n, 6) AS gini
FROM ranked r CROSS JOIN g
ORDER BY r.rnk
"""


@declare(
    "q_source_gini",
    oracle=QGINI_ORACLE,
    description="Gini concentration of token mass across sources — the corpus data-mixing diagnostic (curation [ext])",
)
def q_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    ranked = per_source.withColumn(
        "rnk", F.row_number().over(Window.orderBy("n_tokens", "source"))
    )
    g = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("n_tokens").cast("double").alias("total"),
        F.sum(F.col("rnk") * F.col("n_tokens")).cast("double").alias("weighted"),
    )
    return (
        ranked.crossJoin(F.broadcast(g))
        .select(
            "source",
            "n_tokens",
            F.col("rnk").cast("long").alias("rnk"),
            F.round(F.col("n_tokens").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
            F.round(
                F.lit(2.0) * F.col("weighted") / (F.col("n") * F.col("total"))
                - (F.col("n") + F.lit(1.0)) / F.col("n"),
                6,
            ).alias("gini"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval via Reciprocal Rank Fusion (RRF, Cormack et al.
# 2009): fuse a lexical (BM25) top-k list with a semantic (embedding
# cosine) top-k list — score = Σ 1/(60 + rank) over the lists where
# the doc appears.  The standard first stage of a RAG / retrieval
# pipeline.  Scale shape: BOTH lists are TakeOrdered top-100s (no
# global sort of the corpus); rank windows run over 100-row lists;
# the fuse is a tiny full-outer join.  Determinism: both rankings
# order by (rounded score DESC, id) and the fused score is an explicit
# two-term sum of exact double divisions.
_RRF_K = 60
_RRF_TERMS = ("table", "hash", "window")
_RRF_QVEC_ID = 7

QRRF_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS ts
  FROM documents
), dl AS (
  SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM d
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(ts) AS term FROM d)
  WHERE term IN ('table', 'hash', 'window') GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS dft FROM tf GROUP BY term
), bm AS (
  SELECT tf.doc_id,
         ROUND(CAST(SUM(CAST(ROUND(
           LN(1.0 + (CAST(stats.n_docs - dfreq.dft AS DOUBLE) + 0.5)
                    / (CAST(dfreq.dft AS DOUBLE) + 0.5))
           * ((CAST(tf.tf AS DOUBLE) * 2.2)
              / (CAST(tf.tf AS DOUBLE)
                 + (1.2 * (0.25 + (0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))))
         , 10) AS DECIMAL(18,12))) AS DOUBLE), 6) AS bm25
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
), lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
  FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100)
), eb AS (
  -- NULL embeddings filtered in their own CTE, BEFORE the cross join:
  -- DuckDB's vectorized list_dot_product validates the whole scan
  -- chunk's child vector, so a NULL list in the same chunk crashes it
  -- even when the row is filtered in the consuming SELECT
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
), qv AS (
  SELECT embedding AS q FROM eb WHERE vec_id = {_RRF_QVEC_ID}
), cos AS (
  SELECT e.vec_id AS doc_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(qv.q AS DOUBLE[]))
               / (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * SQRT(list_dot_product(CAST(qv.q AS DOUBLE[]), CAST(qv.q AS DOUBLE[])))), 6) AS c
  FROM eb e CROSS JOIN qv
  WHERE e.vec_id <> {_RRF_QVEC_ID}
), sem AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS r
  FROM (SELECT * FROM cos ORDER BY c DESC, doc_id LIMIT 100)
)
SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       CAST(l.r AS BIGINT) AS lex_rank,
       CAST(s.r AS BIGINT) AS sem_rank,
       ROUND(COALESCE(1.0 / ({_RRF_K} + l.r), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + s.r), 0.0), 6) AS rrf
FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
ORDER BY rrf DESC, doc_id
LIMIT 20
"""


@declare(
    "q_rrf_hybrid_search",
    oracle=QRRF_ORACLE,
    description="hybrid retrieval: BM25 top-k ∪ embedding-cosine top-k fused by Reciprocal Rank Fusion (RAG first stage [ext])",
)
def q_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from jibaro_spark.operators import similarity as sim
    from jibaro_spark.operators.textops import tokens

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    docs, emb = t["documents"], t["embeddings"]
    # tokenization feeds three consumers (doc lengths, corpus stats,
    # term tf) shuffling on different keys — materialize once (the
    # q_bigram_perplexity reuse discipline)
    d = docs.select("doc_id", tokens(F.col("text")).alias("ts")).localCheckpoint(
        eager=True
    )
    dl = d.select("doc_id", F.size("ts").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tf = (
        d.select("doc_id", F.explode("ts").alias("term"))
        .filter(F.col("term").isin(*_RRF_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("dft"))
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("dft")).cast("double") + F.lit(0.5))
        / (F.col("dft").cast("double") + F.lit(0.5))
    )
    sat = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl")))
    )
    bm = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(idf * sat, 10).cast("decimal(18,12)").alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("c").cast("double"), 6).alias("bm25"))
    )
    lex100 = bm.orderBy(F.col("bm25").desc(), "doc_id").limit(100)
    lex = lex100.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("r"),
    )
    qv = emb.filter(F.col("vec_id") == _RRF_QVEC_ID).select(
        F.col("embedding").alias("q")
    )
    cos = (
        emb.filter(
            (F.col("vec_id") != _RRF_QVEC_ID) & F.col("embedding").isNotNull()
        )
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(sim.cosine(F.col("embedding"), F.col("q")), 6).alias("c"),
        )
    )
    sem100 = cos.orderBy(F.col("c").desc(), "doc_id").limit(100)
    sem = sem100.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "doc_id"))
        .alias("r"),
    )
    l = lex.select(F.col("doc_id").alias("l_id"), F.col("r").alias("lr"))
    s = sem.select(F.col("doc_id").alias("s_id"), F.col("r").alias("sr"))
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lr")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("sr")), F.lit(0.0)),
        6,
    )
    return (
        l.join(s, l["l_id"] == s["s_id"], "full_outer")
        .select(
            F.coalesce("l_id", "s_id").alias("doc_id"),
            F.col("lr").cast("long").alias("lex_rank"),
            F.col("sr").cast("long").alias("sem_rank"),
            rrf.alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
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
# Incremental aggregate maintenance (operators/cdc.incremental_agg_apply):
# a per-customer (n_orders, total_spend) rollup is maintained from a CDC
# change batch instead of re-scanning the fact table.  The oracle IS the
# maintained invariant: it recomputes the aggregate FROM SCRATCH over
# the changed fact table — incremental(full_agg(T), Δ) == full_agg(T′).
# Deterministic Δ: delete every 13th order, reprice (+50.25) every 5th
# surviving order, insert a clone (+1000000 key, +7.5 price) for every
# 9th surviving order.
QINCAGG_ORACLE = """
WITH fact AS (
  SELECT * FROM orders
  WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
    AND o_totalprice IS NOT NULL
), surviving AS (
  SELECT * FROM fact WHERE o_orderkey % 13 <> 0
), repriced AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(o_totalprice AS DECIMAL(28,4)) + CAST(50.25 AS DECIMAL(28,4))
              ELSE CAST(o_totalprice AS DECIMAL(28,4)) END AS price
  FROM surviving
), inserted AS (
  SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(28,4)) + CAST(7.5 AS DECIMAL(28,4)) AS price
  FROM surviving WHERE o_orderkey % 9 = 0
), t2 AS (
  SELECT * FROM repriced UNION ALL SELECT * FROM inserted
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(price AS DECIMAL(28,4))) AS DECIMAL(28,4)) AS DOUBLE)
         AS total_spend
FROM t2
GROUP BY o_custkey
ORDER BY o_custkey
"""


@declare(
    "q_incremental_agg",
    oracle=QINCAGG_ORACLE,
    description="incrementally maintained SUM/COUNT rollup from a CDC delta — materialized-view maintenance; oracle recomputes from scratch (CDC family [ext])",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import incremental_agg_apply

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): the CDC identity/measure
    # columns must be defined — a NULL orderkey escapes both the delete
    # and survive modulo filters under three-valued logic, leaving the
    # maintained rollup and the from-scratch oracle disagreeing
    orders = orders.filter(
        F.col("o_orderkey").isNotNull()
        & F.col("o_custkey").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    base_agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(28,4)")).alias("total_spend"),
    )
    # Δ arithmetic runs entirely in the DECIMAL domain: cast o_totalprice
    # to decimal(28,4) BEFORE adding decimal literals, so no engine ever
    # rounds a double at the cast boundary (r5 driver hash drift root cause
    # — the oracle mirrors the cast-first shape).
    dec_price = F.col("o_totalprice").cast("decimal(28,4)")
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        F.lit("d").alias("op"),
        "o_custkey",
        dec_price.alias("before_total_spend"),
        F.lit(None).cast("decimal(28,4)").alias("after_total_spend"),
    )
    surviving = orders.filter(F.col("o_orderkey") % 13 != 0)
    updates = surviving.filter(F.col("o_orderkey") % 5 == 0).select(
        F.lit("u").alias("op"),
        "o_custkey",
        dec_price.alias("before_total_spend"),
        (dec_price + F.lit("50.25").cast("decimal(28,4)")).alias("after_total_spend"),
    )
    inserts = surviving.filter(F.col("o_orderkey") % 9 == 0).select(
        F.lit("c").alias("op"),
        "o_custkey",
        F.lit(None).cast("decimal(28,4)").alias("before_total_spend"),
        (dec_price + F.lit("7.5").cast("decimal(28,4)")).alias("after_total_spend"),
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    out = incremental_agg_apply(
        base_agg, changes, keys=["o_custkey"], measure_cols=["total_spend"]
    )
    # Accumulate in DECIMAL, publish as DOUBLE: the output boundary must
    # carry only engine-neutral types (VARCHAR/BIGINT/DOUBLE) — the
    # driver's DuckDB lane materializes DECIMAL differently than Spark
    # ('123.4500' vs '123.45'), which is exactly the r5/r6 red-row class.
    return out.select(
        "o_custkey",
        "n",
        F.col("total_spend").cast("decimal(28,4)").cast("double").alias("total_spend"),
    ).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# Streaming semantic dedup, batch-equivalence form: the SAME greedy
# per-cell admission kernel the applyInPandasWithState operator runs
# across micro-batches (streaming/windows.streaming_semantic_dedup),
# here on one batch.  At the exact-duplicate threshold the greedy
# outcome is SQL-expressible — a row is a dup iff a lower-id row with
# an IDENTICAL embedding exists (identical vectors share their cell by
# construction, and no natural fixture pair approaches cosine 1) — so
# the driver hash-checks the kernel the streaming tests then trust
# across batches (tests/test_round5_streaming_semdedup.py).
QSSD_ORACLE = """
WITH fin AS (
  -- the stateful kernel drops NULL ids/vectors (r8 NULL hardening);
  -- non-finite vectors are likewise not valid embeddings (float fuzz
  -- sweep) — the oracle's admission frame must match both; the lambda
  -- is NULL-aware (x IS NULL OR ...) because Spark's ~exists fence
  -- drops NULL-component vectors under three-valued logic (NULL contract)
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
), corpus AS (
  SELECT vec_id, embedding FROM fin
  UNION ALL
  SELECT vec_id + 7000 AS vec_id, embedding FROM fin
  WHERE vec_id % 3 = 0
), m AS (
  SELECT c.vec_id,
         (SELECT MIN(o.vec_id) FROM corpus o
          WHERE o.vec_id < c.vec_id AND o.embedding = c.embedding) AS dup_of
  FROM corpus c
)
SELECT vec_id, (dup_of IS NOT NULL) AS is_dup, CAST(dup_of AS BIGINT) AS dup_of
FROM m ORDER BY vec_id
"""


@declare(
    "q_streaming_semdedup_batch",
    oracle=QSSD_ORACLE,
    description="greedy per-cell semantic-dedup admission (batch form of the cross-micro-batch stateful operator) (streaming/dedup [ext])",
)
def q_streaming_semdedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.similarity import seed_centroids
    from jibaro_spark.streaming.windows import streaming_semantic_dedup

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # finite-vector fence, mirrored in the oracle (float fuzz sweep);
    # NULL ids/vectors are dropped inside the stateful kernel itself.
    # Materialized once — both corpus branches and the centroid seed
    # would otherwise re-evaluate the 64-element HOF scan.
    emb = emb.filter(
        ~F.exists(
            "embedding",
            lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
        )
    ).localCheckpoint(eager=True)
    corpus = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") + 7000).alias("vec_id"), "embedding"
        )
    )
    cents = seed_centroids(emb, "vec_id", "embedding", 4)
    out = streaming_semantic_dedup(
        corpus, "vec_id", "embedding", cents, threshold=0.999999
    )
    return out.select("vec_id", "is_dup", "dup_of").orderBy("vec_id")


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
# Keep-best exact dedup: replayed corpus where every 4th document
# reappears (id+10000) UPPERCASED with trailing whitespace — identical
# under normalization, longer raw text.  The curation policy keeps the
# LONGEST raw variant of each normalized group (earliest id on ties) —
# the common "prefer the most complete copy" rule, vs the min-id keep
# of q_dedup_exact_docs.  The oracle groups by the normalized text
# directly (the hash is a pure grouping device).
QKEEPBEST_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, upper(text) || '  ' AS text
  FROM documents WHERE doc_id % 4 = 0
), ranked AS (
  SELECT doc_id, LENGTH(text) AS text_len,
         ROW_NUMBER() OVER (
           PARTITION BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
           ORDER BY LENGTH(text) DESC, doc_id ASC) AS rn
  FROM corpus
)
SELECT doc_id, CAST(text_len AS BIGINT) AS text_len
FROM ranked WHERE rn = 1
ORDER BY doc_id
"""


@declare(
    "q_dedup_keep_best",
    oracle=QKEEPBEST_ORACLE,
    description="exact dedup keeping the longest raw variant per normalized group (keep-best curation policy [ext])",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.dedup import dedup_exact

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    corpus = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("  ")).alias("text"),
        )
    )
    # explicit DuckDB-convention null ordering (NULLS LAST in both
    # directions): Spark's bare asc default sorts NULLs first, which
    # flips the kept representative when an id is NULL
    kept = dedup_exact(
        corpus,
        content_cols=["text"],
        keep_by=[
            F.length("text").desc_nulls_last(),
            F.col("doc_id").asc_nulls_last(),
        ],
    )
    return kept.select(
        "doc_id", F.length("text").cast("long").alias("text_len")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Data-quality expectations (operators/dq.py): the pre-promotion
# constraint gate — row-level rules in ONE scan, plus referential
# integrity as an anti-join.  Violations are INJECTED deterministically
# (every 97th lineitem gets a negated price, every 89th a null-ish
# future shipdate marker via quantity 0) so the report is non-trivial.
QDQ_ORACLE = """
WITH l AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 97 = 0 THEN -l_extendedprice
              ELSE l_extendedprice END AS price,
         CASE WHEN l_orderkey % 89 = 0 THEN 0 ELSE l_quantity END AS qty,
         CASE WHEN l_orderkey % 101 = 0 THEN l_orderkey + 9000000
              ELSE l_orderkey END AS fk_key
  FROM lineitem
), rules AS (
  SELECT 'fk_order_exists' AS rule, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations
  FROM l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.fk_key = o.o_orderkey
  UNION ALL
  -- NULL and non-finite values count as violations (operators/dq.expect
  -- contract: an unexpected NULL/NaN/Inf inside a range check is a data
  -- problem, not a pass) — the pass-check ELSE 1 shape encodes the NULL
  -- side; the explicit finite fence is required because the engines
  -- disagree on NaN comparisons (DuckDB's vectorized NaN BETWEEN is
  -- even inconsistent with its own constant folding)
  SELECT 'price_positive', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN price > 0 AND isfinite(price)
                       THEN 0 ELSE 1 END) AS BIGINT)
  FROM l
  UNION ALL
  SELECT 'qty_in_1_50', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN qty BETWEEN 1 AND 50 AND isfinite(qty)
                       THEN 0 ELSE 1 END) AS BIGINT)
  FROM l
)
SELECT rule, n_rows, n_violations, (n_violations = 0) AS pass
FROM rules ORDER BY rule
"""


@declare(
    "q_dq_expectations",
    oracle=QDQ_ORACLE,
    description="data-quality expectation report: row rules in one scan + FK anti-join, violation counts per rule (constraint gate [ext])",
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.dq import expect, fk_violations

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    li = t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_orderkey") % 97 == 0, -F.col("l_extendedprice")
        ).otherwise(F.col("l_extendedprice")).alias("price"),
        F.when(F.col("l_orderkey") % 89 == 0, F.lit(0))
        .otherwise(F.col("l_quantity"))
        .alias("qty"),
        F.when(
            F.col("l_orderkey") % 101 == 0, F.col("l_orderkey") + 9000000
        ).otherwise(F.col("l_orderkey")).alias("fk_key"),
    )
    # finite fence mirrors the oracle: a NaN/Inf measure is a violation
    # (Spark and DuckDB disagree on raw NaN comparisons)
    inf = float("inf")

    def finite(c):
        return ~F.isnan(c) & (F.col(c) < inf) & (F.col(c) > -inf)

    row_rules = expect(
        li,
        {
            "price_positive": ~((F.col("price") > 0) & finite("price")),
            "qty_in_1_50": ~(F.col("qty").between(1, 50) & finite("qty")),
        },
    )
    n_fk_bad = fk_violations(
        li, t["orders"], ["fk_key"], ["o_orderkey"]
    ).count()
    n_rows = li.count()
    fk_row = (
        li.sparkSession.createDataFrame(
            [("fk_order_exists", n_rows, n_fk_bad, n_fk_bad == 0)],
            "rule string, n_rows long, n_violations long, pass boolean",
        )
    )
    return row_rules.unionByName(fk_row).orderBy("rule")


# ---------------------------------------------------------------------------
# Salted skew join, oracle-checked end-to-end: the salted plan must
# change the SHUFFLE (hot keys spread over `salt` reducers), never the
# ANSWER — so the oracle is simply the plain join (the q_bucketed_join
# discipline).  Values aggregate per priority so the hash check covers
# every joined row.
QSALT_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@declare(
    "q_salted_join",
    oracle=QSALT_ORACLE,
    description="skew-salted equi-join — answer identical to the plain join (salting only reshapes the shuffle) (skew [ext])",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import salted_join

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    joined = salted_join(
        t["lineitem"].select("l_orderkey", "l_extendedprice"),
        t["orders"].select("o_orderkey", "o_orderpriority"),
        left_on="l_orderkey",
        right_on="o_orderkey",
        salt=8,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostic: per-key share of the fact table for the top
# keys — what you run BEFORE picking broadcast/salt/bucket strategies.
# Two-level aggregate (map-side combine), top-k via TakeOrdered.
QSKEW_ORACLE = """
WITH counts AS (
  SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_orderkey
), tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS total, CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM counts
)
SELECT c.key, c.n,
       ROUND(CAST(c.n AS DOUBLE) / t.total, 6) AS share,
       ROUND(CAST(c.n AS DOUBLE) * t.n_keys / t.total, 6) AS skew_factor
FROM counts c CROSS JOIN tot t
ORDER BY c.n DESC, c.key
LIMIT 20
"""


@declare(
    "q_skew_report",
    oracle=QSKEW_ORACLE,
    description="key-skew diagnostic: hottest keys' share and skew factor vs uniform (pre-join strategy report [ext])",
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    counts = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = counts.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("n").cast("double") * F.col("n_keys") / F.col("total"), 6
            ).alias("skew_factor"),
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Avro codec round trip, driver-checked: rows → Avro binary (pure-
# stdlib spec codec) → Confluent frame → native wire slice → decode →
# rows.  decode(encode(x)) == x means the ORACLE is simply the source
# rows — any drift anywhere in the codec chain (zigzag, unions, frame
# offsets) breaks the hash.  The protobuf twin lives in pytest only:
# its runtime import cannot be assumed on the driver's workers.
QAVRO_RT_ORACLE = """
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE doc_id IS NOT NULL
ORDER BY doc_id
"""


@declare(
    "q_avro_roundtrip",
    oracle=QAVRO_RT_ORACLE,
    description="Confluent Avro encode→frame→slice→decode round trip over documents — codec chain hash-checked against the source rows (F4 [ext])",
)
def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from jibaro_spark.codecs.avro_python import (
        decode_avro_python,
        encode_avro_python,
    )
    from jibaro_spark.codecs.confluent import payload_of, schema_id_of, wire_encode

    # the record key is non-nullable by contract (the Kafka-message
    # shape this codec serves) — keyless documents are out of scope,
    # mirrored by the oracle's WHERE; NULL lang/n_chars roundtrip fine
    # through the Avro union encoding
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("doc_id").isNotNull()
    )
    rec = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), nullable=False),
            T.StructField("lang", T.StringType(), nullable=True),
            T.StructField("n_chars", T.LongType(), nullable=True),
        ]
    )
    framed = encode_avro_python(
        docs.select(
            F.struct(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("lang"),
                F.col("n_chars").cast("long").alias("n_chars"),
            ).alias("v")
        ),
        "v",
        rec,
    ).select(wire_encode(F.col("payload"), 31, "avro").alias("value"))
    sliced = framed.select(
        schema_id_of("value").alias("sid"),
        payload_of("value", "avro").alias("payload"),
    )
    decoded = decode_avro_python(sliced, "payload", rec)
    return (
        decoded.filter(F.col("sid") == 31)
        .select("value.doc_id", "value.lang", "value.n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Domain-mixture reweighting (DoReMi-lite / static mixture): given the
# actual token mass per source and a UNIFORM target mixture, emit the
# per-source sampling weight (target share / actual share, clipped to
# [0.25, 4]) and the token count a weighted sampler would draw.  The
# standard knob for re-balancing a web-scale corpus before training.
# Scale shape: one groupBy over the corpus (shuffles #sources rows),
# the target math is a crossJoin against a broadcast 1-row aggregate —
# no second corpus pass, no driver collect.  Determinism: integer
# token counts until the final per-row double divisions; weight
# rounded before the product so both engines multiply identical
# operands.
QMIX_ORACLE = f"""
WITH per_source AS (
  SELECT source, CAST(SUM(len({_R5_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), g AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM per_source
), w AS (
  SELECT s.source, s.n_tokens,
         ROUND(CAST(s.n_tokens AS DOUBLE) / CAST(g.total AS DOUBLE), 6) AS share,
         ROUND(LEAST(GREATEST(
           CAST(g.total AS DOUBLE)
             / (CAST(g.n_sources AS DOUBLE) * CAST(s.n_tokens AS DOUBLE)),
           0.25), 4.0), 6) AS weight
  FROM per_source s CROSS JOIN g
)
SELECT source, n_tokens, share, weight,
       CAST(ROUND(CAST(n_tokens AS DOUBLE) * weight, 0) AS BIGINT)
         AS sampled_tokens
FROM w
ORDER BY source
"""


@declare(
    "q_mixture_reweight",
    oracle=QMIX_ORACLE,
    description="static domain-mixture reweighting: per-source sampling weight toward a uniform token target, clipped — the corpus re-balancing knob (curation [ext])",
)
def q_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import tokens

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    g = per_source.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    weight = F.round(
        F.least(
            F.greatest(
                F.col("total").cast("double")
                / (F.col("n_sources").cast("double") * F.col("n_tokens").cast("double")),
                F.lit(0.25),
            ),
            F.lit(4.0),
        ),
        6,
    )
    return (
        per_source.crossJoin(F.broadcast(g))
        .select(
            "source",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("total").cast("double"), 6
            ).alias("share"),
            weight.alias("weight"),
        )
        .withColumn(
            "sampled_tokens",
            F.round(F.col("n_tokens").cast("double") * F.col("weight"), 0).cast(
                "long"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram: 8 bins of o_totalprice with equal row counts
# (NTILE over a deterministic total order), each bin reporting its
# [lo, hi] edge and population — the optimizer-statistics primitive
# (selectivity estimation / range-partition boundary choice use
# exactly these bins at scale).  Scale shape: single window sort on
# (price, key) — the same shuffle a global ORDER BY costs — then an
# 8-group aggregate; no per-bin passes.  Ties broken by o_orderkey so
# both engines assign identical bin membership.
QEQD_ORACLE = """
WITH b AS (
  SELECT o_totalprice,
         NTILE(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM b GROUP BY bin ORDER BY bin
"""


@declare(
    "q_equidepth_histogram",
    oracle=QEQD_ORACLE,
    description="equi-depth 8-bin histogram of order prices (NTILE edges + populations) — the selectivity/range-boundary statistics primitive (A9/W3 [ext])",
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.relational import ntile_exact

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    # NULL contract (relational fuzz sweep): the bin axis must be
    # defined — NULLs sort to opposite ends of the two engines' orders
    orders = orders.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderkey").isNotNull()
    )
    # cost-based NTILE (r12): count probe routes under-floor inputs
    # through the native window; corpus-sized tables keep the
    # distributed range-repartition + per-partition-offsets form
    binned = ntile_exact(
        orders.select("o_totalprice", "o_orderkey"),
        8,
        ["o_totalprice", "o_orderkey"],
        out_col="bin",
    )
    return (
        binned.groupBy(F.col("bin").cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Shuffle-hash join: the third physical join strategy (after broadcast
# and sort-merge) — when BOTH sides are too big to broadcast but one
# side's per-partition build fits memory, hashing beats sorting (no
# sort of either side).  The SHUFFLE_HASH hint pins the strategy; the
# plan test (tests/test_scale_plans.py) asserts ShuffledHashJoin is
# the chosen physical node.  At 100 TB this is the join for
# mid-sized dimensions above the broadcast threshold.
QSHJ_ORACLE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'F'
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@declare(
    "q_shufflehash_join",
    oracle=QSHJ_ORACLE,
    description="SHUFFLE_HASH-hinted fact-dim join (no sort of either side) — the third physical join strategy, plan-asserted (J1/J2 [ext])",
)
def q_shufflehash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    return (
        t["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .join(
            t["customer"].hint("SHUFFLE_HASH"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Sentence splitting — the chunking-adjacent curation primitive, run
# on the NATIVE lane (posexplode(split): Scan → Generate inside
# whole-stage codegen, zero Python).  The same contract is carried by
# a Python UDTF and a mapInArrow kernel (operators/udtf_ops.py) —
# row-identical, pinned in tests — completing the §2.9 table-function
# surface.  sent_id keeps the pre-filter split index (gap semantics
# identical across all lanes and the oracle).
QSENT_ORACLE = r"""
WITH s AS (
  SELECT doc_id, string_split_regex(trim(text), '[.!?]+\s+') AS ss
  FROM documents
), e AS (
  SELECT doc_id, unnest(range(1, len(ss) + 1)) AS i, ss FROM s
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(i - 1 AS INT) AS sent_id,
       ss[i] AS sentence
FROM e WHERE len(ss[i]) > 0
ORDER BY doc_id, sent_id
"""


@declare(
    "q_sentence_split",
    oracle=QSENT_ORACLE,
    description="sentence splitting on the native Generate lane; UDTF + mapInArrow lanes carry the identical contract (U5/§2.9 [ext])",
)
def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.udtf_ops import split_sentences_native

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return split_sentences_native(docs).orderBy("doc_id", "sent_id")


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
