"""Similarity and retrieval declared queries: exact and approximate kNN
(LSH, IVF, IVF-PQ), BM25 and hybrid ranking, sparse/dense cosine,
k-means and clustering validity, PCA, random projection and geo
nearest-neighbour search.

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.operators import similarity as sim
from jibaro_spark.operators import textops as tx
from jibaro_spark.operators.util import local_frame
from jibaro_spark.queries.registry import _TOKS, declare, load_tables


QNORM_ORACLE = """
SELECT vec_id,
       ROUND(SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS l2_norm,
       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
             list_transform(generate_series(1, len(embedding)),
                            i -> CASE WHEN i % 2 = 1 THEN 1.0 ELSE -1.0 END)), 6) AS dot_alt,
       label
FROM embeddings
WHERE embedding IS NOT NULL
ORDER BY vec_id
"""


@declare("q_embedding_norms", oracle=QNORM_ORACLE, description="vector L2 norms + alternating-sign dot via native array aggregate (J6 support)")
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-embedding rows have no norms on either side (NULL-fuzz sweep)
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].filter(
        F.col("embedding").isNotNull()
    )
    # l2_norm is uniformly 1.0 (fixture vectors are unit-normalized —
    # itself a verified property); dot_alt VARIES per vector, so the
    # hash check exercises real dot-product values too.
    alt = F.transform(
        F.sequence(F.lit(1), F.size(F.col("embedding"))),
        lambda i: F.when(i % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    return emb.select(
        "vec_id",
        F.round(F.sqrt(sim.l2_norm_sq(F.col("embedding"))), 6).alias("l2_norm"),
        F.round(sim.dot(F.col("embedding"), alt), 6).alias("dot_alt"),
        "label",
    ).orderBy("vec_id")


QKNN_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
  FROM embeddings WHERE vec_id % 100 = 0
), pairs AS (
  SELECT q.q_id, e.vec_id,
         ROUND(list_dot_product(q.q_vec, CAST(e.embedding AS DOUBLE[]))
               / (SQRT(list_dot_product(q.q_vec, q.q_vec))
                  * SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6)
           AS cosine_sim
  FROM q, embeddings e
  WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM pairs
)
SELECT q_id, vec_id, cosine_sim, rank
FROM ranked WHERE rank <= 5
ORDER BY q_id, rank
"""


@declare("q_knn_bruteforce", oracle=QKNN_ORACLE, description="exact cosine top-k (brute force baseline, J6 [ext])")
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return sim.knn_bruteforce(
        queries, emb, "q_id", "q_vec", "vec_id", "embedding", k=5
    ).select("q_id", "vec_id", "cosine_sim", "rank").orderBy("q_id", "rank")


# ---- rows-only declared queries (non-SQL-expressible; verified in
# pytest against exact counterparts) ------------------------------------


@declare("q_knn_lsh", oracle=None, description="approximate cosine top-k via banded sign-LSH + exact re-rank (J6 scale path)")
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return sim.knn_lsh(
        queries, emb, "q_id", "q_vec", "vec_id", "embedding",
        k=5, dim=64, num_planes=16, bands=4,
    ).select("q_id", "vec_id", "cosine_sim", "rank").orderBy("q_id", "rank")


@declare(
    "q_knn_ivf",
    oracle=None,
    description="approximate cosine top-k via IVF-Flat cells + exact re-rank (J6 scale path; recall pinned in tests)",
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.util import ensure_parallelism

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # r12 (guide §2.5): one deterministic spread ahead of the Lloyd
    # assignment + IVF cell maps, which otherwise run their k×dim
    # nearest-cell expressions on the single-row-group scan's one
    # core (same treatment as q_knn_ivfpq; recall-pinned family).
    emb = ensure_parallelism(emb, by="vec_id").localCheckpoint(eager=False)
    # (lazy pin: the training phases are SEPARATE collect jobs — seed,
    #  Lloyd means, PQ codebook — and shuffle output is not reused
    #  across jobs, so without the pin each job re-ran scan+exchange)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = sim.seed_centroids(emb, "vec_id", "embedding", n_centroids=8)
    cents = sim.kmeans_refine(emb, "embedding", cents, iterations=1)
    return (
        sim.knn_ivf(
            queries, emb, "q_id", "q_vec", "vec_id", "embedding",
            k=5, centroids=cents, n_probe=3,
        )
        .select("q_id", "vec_id", "cosine_sim", "rank")
        .orderBy("q_id", "rank")
    )


# Element-wise centroid per label: the distributed form of "mean
# embedding per cluster" — posexplode shuffles (label, pos) keys, so
# the reduction parallelizes over dimensions × groups rather than
# collecting vectors.  Cross-row determinism: elements are rounded to
# 6 dp FIRST (engine-agnostic — a rounding tie would need the double
# to be an exact 7-digit decimal, which no binary fraction is), then
# cast to decimal(18,6) exactly, so the sum is order-independent and
# bit-identical to DuckDB.
QCENT_ORACLE = """
WITH e AS (
  SELECT label, unnest(embedding) AS val,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
  FROM embeddings
)
SELECT label, pos,
       CAST(SUM(CAST(ROUND(CAST(val AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_val
FROM e GROUP BY label, pos ORDER BY label, pos
"""


@declare(
    "q_embedding_centroid",
    oracle=QCENT_ORACLE,
    description="element-wise centroid per label via posexplode + two-key agg (J6 support, clustering building block)",
)
def q_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(
                    F.round(F.col("val").cast("double"), 6).cast("decimal(18,6)")
                ).cast("double")
                / F.count("val")
            ).alias("mean_val")
        )
        .orderBy("label", "pos")
    )


# int8 embedding quantization: per-vector symmetric scale + quantized
# summaries.  Zero-shuffle array math; the array itself is exercised in
# pytest (reconstruction-error bound) — the driver compare gets the
# scalarized summaries.
QQUANT_ORACLE = """
WITH a AS (
  SELECT vec_id, embedding,
         COALESCE(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS amax
  FROM embeddings
  WHERE embedding IS NOT NULL
), q AS (
  SELECT vec_id, amax,
         CASE WHEN amax = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
              ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / (amax/127.0) + 0.5) AS BIGINT))
         END AS qv
  FROM a
)
SELECT vec_id, amax / 127.0 AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max,
       CAST(len(list_filter(qv, q -> abs(q) = 127)) AS BIGINT) AS n_sat
FROM q
ORDER BY vec_id
"""


@declare(
    "q_quantize_int8",
    oracle=QQUANT_ORACLE,
    description="symmetric int8 embedding quantization summaries (ANN scale path [ext])",
)
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL embeddings quantize to nothing on either side
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].filter(
        F.col("embedding").isNotNull()
    )
    return (
        sim.quantize_int8(emb, "vec_id", "embedding")
        .select(
            "vec_id",
            "scale",
            "q_sum",
            "q_min",
            "q_max",
            F.col("n_sat").cast("long").alias("n_sat"),
        )
        .orderBy("vec_id")
    )


# Nearest-centroid assignment (the k-means/IVF inner kernel) with a
# fully SQL-expressible setup: centroids are the k=8 lowest-vec_id
# embeddings, every vector is assigned by squared-L2 with ties broken
# toward the lower centroid id, and per-cluster membership + exact
# decimal-accumulated distance mass is oracle-checked.  The iterative
# Lloyd refinement built on this kernel is kmeans_refine (exercised by
# the IVF recall tests); the assignment step is the part that touches
# all 100 TB, so it is the part the oracle pins.
QKMA_ORACLE = """
WITH eb AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
), c AS (
  SELECT vec_id AS cid, embedding AS cvec FROM eb ORDER BY vec_id LIMIT 8
), d AS (
  SELECT e.vec_id, c.cid,
         round(list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))), 6) AS d2
  FROM eb e CROSS JOIN c
), a AS (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM d
)
SELECT cid,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) AS sum_d2
FROM a WHERE rn = 1
GROUP BY cid
ORDER BY cid
"""


@declare(
    "q_kmeans_assign",
    oracle=QKMA_ORACLE,
    description="nearest-centroid assignment (k-means kernel, broadcast codebook): per-cluster sizes + exact distance mass (clustering [ext])",
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a NULL embedding would NULL every distance and collapse the
    # assignment (NULL-fuzz sweep) — vectors without id or embedding
    # are outside the clustering frame on both sides
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    cents = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    assigned = sim.assign_nearest(emb, "vec_id", "embedding", cents)
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.col("d2").cast("decimal(18,6)")).cast("double").alias("sum_d2"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# BM25 ranking of the corpus against a fixed conjunctive term query.
# idf and the per-term saturation factor are single double expressions
# (identical shape both engines) rounded to 10 dp; per-doc scores sum
# the ≤3 per-term contributions as DECIMAL (order-independent).  The
# shape at scale: one token shuffle for tf, a 3-row broadcast of term
# stats, top-k via TakeOrdered — no corpus-wide sort.
_BM25_TERMS = ("table", "hash", "window")
_K1, _B = 1.2, 0.75

_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + ")"

QBM25_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
), dl AS (
  SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM d
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
), tok AS (
  SELECT doc_id, unnest(ts) AS term FROM d
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok WHERE term IN {_TERMS_SQL} GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS dft FROM tf GROUP BY term
), contrib AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           LN(1.0 + (CAST(stats.n_docs - dfreq.dft AS DOUBLE) + 0.5)
                    / (CAST(dfreq.dft AS DOUBLE) + 0.5))
           * ((CAST(tf.tf AS DOUBLE) * ({_K1} + 1.0))
              / (CAST(tf.tf AS DOUBLE)
                 + ({_K1} * ((1.0 - {_B})
                             + ({_B} * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))))
         , 10) AS DECIMAL(18,12)) AS c
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       ROUND(CAST(SUM(c) AS DOUBLE), 6) AS bm25
FROM contrib
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 25
"""


@declare(
    "q_bm25_search",
    oracle=QBM25_ORACLE,
    description="BM25 document ranking for a fixed term query (text search [ext])",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    d = docs.select("doc_id", tx.tokens(F.col("text")).alias("ts"))
    dl = d.select("doc_id", F.size("ts").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tok = d.select("doc_id", F.explode("ts").alias("term"))
    tf = (
        tok.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("dft"))
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("dft")).cast("double") + F.lit(0.5))
        / (F.col("dft").cast("double") + F.lit(0.5))
    )
    sat = (F.col("tf").cast("double") * F.lit(_K1 + 1.0)) / (
        F.col("tf").cast("double")
        + (
            F.lit(_K1)
            * (
                F.lit(1.0 - _B)
                + (F.lit(_B) * (F.col("dl").cast("double") / F.col("avgdl")))
            )
        )
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * sat, 10).cast("decimal(18,12)").alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.round(F.sum("c").cast("double"), 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Product quantization: 64-dim vectors → 4 subspaces × 16 dims, codes
# from the 8 lowest-vec_id embeddings' slices (fully SQL-derivable
# codebook).  Per-vector output: the 4 code ids + decimal-exact total
# quantization error.  See similarity.pq_encode for the scale shape.
_PQ_M, _PQ_SUB, _PQ_K = 4, 16, 8

QPQ_ORACLE = f"""
WITH s AS (
  SELECT unnest(range(0, {_PQ_M})) AS sub
), c AS (
  SELECT s.sub, e.vec_id AS cid,
         list_slice(e.embedding, s.sub * {_PQ_SUB} + 1, s.sub * {_PQ_SUB} + {_PQ_SUB}) AS cvec
  FROM embeddings e CROSS JOIN s WHERE e.vec_id < {_PQ_K}
), sv AS (
  SELECT e.vec_id, s.sub,
         list_slice(e.embedding, s.sub * {_PQ_SUB} + 1, s.sub * {_PQ_SUB} + {_PQ_SUB}) AS svec
  FROM embeddings e CROSS JOIN s
), d AS (
  SELECT sv.vec_id, sv.sub, c.cid,
         ROUND(list_sum(list_transform(range(1, {_PQ_SUB} + 1),
               i -> (CAST(sv.svec[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                  * (CAST(sv.svec[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))), 6) AS d2
  FROM sv JOIN c USING (sub)
), a AS (
  SELECT vec_id, sub, cid, d2,
         row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
  FROM d
)
SELECT vec_id,
       MAX(CASE WHEN sub = 0 THEN cid END) AS code0,
       MAX(CASE WHEN sub = 1 THEN cid END) AS code1,
       MAX(CASE WHEN sub = 2 THEN cid END) AS code2,
       MAX(CASE WHEN sub = 3 THEN cid END) AS code3,
       ROUND(CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE), 6) AS qerr
FROM a WHERE rn = 1
GROUP BY vec_id
ORDER BY vec_id
"""


@declare(
    "q_pq_encode",
    oracle=QPQ_ORACLE,
    description="product-quantization codes + reconstruction error (ANN compression [ext])",
)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    codebook = (
        emb.filter(F.col("vec_id") < _PQ_K)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("sub"),
            F.col("vec_id").alias("cid"),
            F.col("embedding"),
        )
        .select(
            "sub",
            "cid",
            F.slice(
                F.col("embedding"), F.col("sub") * _PQ_SUB + 1, _PQ_SUB
            ).alias("cvec"),
        )
    )
    codes = sim.pq_encode(
        emb, "vec_id", "embedding", codebook, m=_PQ_M, sub_dim=_PQ_SUB
    )
    aggs = [
        F.max(F.when(F.col("sub") == s, F.col("cid"))).alias(f"code{s}")
        for s in range(_PQ_M)
    ]
    return (
        codes.groupBy("vec_id")
        .agg(
            *aggs,
            F.round(
                F.sum(F.col("d2").cast("decimal(18,6)")).cast("double"), 6
            ).alias("qerr"),
        )
        .orderBy("vec_id")
    )


@declare(
    "q_knn_ivfpq",
    oracle=None,
    description="IVF-PQ approximate kNN: coarse cells + PQ/ADC scoring + exact re-rank (J6 100 TB path; recall pinned in tests)",
)
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.util import ensure_parallelism

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # r12 (guide §2.5): every phase (Lloyd assignment, PQ training and
    # encode, the IVF cell map) runs an interpreted k×dim nearest-cell
    # expression per row, and all of them inherited the single-row-
    # group scan's ONE partition (12.5 s at sf0.1).  One deterministic
    # spread feeds them all.  The family's contract is recall-pinned
    # (test_approx_ops), robust to the ulp-level centroid-mean shifts
    # a different partial-aggregation grouping can produce.
    emb = ensure_parallelism(emb, by="vec_id").localCheckpoint(eager=False)
    # (lazy pin: the training phases are SEPARATE collect jobs — seed,
    #  Lloyd means, PQ codebook — and shuffle output is not reused
    #  across jobs, so without the pin each job re-ran scan+exchange)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = sim.seed_centroids(emb, "vec_id", "embedding", n_centroids=8)
    cents = sim.kmeans_refine(emb, "embedding", cents, iterations=1)
    codebook = sim.train_pq_codebook(
        emb, "vec_id", "embedding", m=_PQ_M, sub_dim=_PQ_SUB, k=16, iterations=1
    )
    return (
        sim.ivfpq_search(
            queries, emb, "q_id", "q_vec", "vec_id", "embedding",
            k=5, centroids=cents, pq_codebook=codebook,
            m=_PQ_M, sub_dim=_PQ_SUB, n_probe=3, rerank=64,
        )
        .select("q_id", "vec_id", "cosine_sim", "rank")
        .orderBy("q_id", "rank")
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
# Sparse TF-IDF cosine pairs (operators/textops.tfidf_cosine_pairs):
# the classic all-pairs similarity-search shape over an inverted
# index — the SPARSE sibling of the dense embedding kernels, and the
# IR-side near-duplicate signal (same docs, different vocabulary
# emphasis).  Pairs are restricted to within-source (the group guard
# that bounds Σ df² at scale); every float sum is round-then-decimal
# so the DuckDB replay is exact.
QSPARSE_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), toks AS (
  SELECT doc_id, source, unnest({_TOKS}) AS t FROM corpus
), tf AS (
  SELECT doc_id, source, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, source, t
), dfq AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t
), n AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM corpus
), w AS (
  SELECT tf.doc_id, tf.source, tf.t,
         CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS w
  FROM tf JOIN dfq df USING (t) CROSS JOIN n
), norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(ROUND(w * w, 8) AS DECIMAL(28,10))) AS DOUBLE)) AS nrm
  FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(CAST(ROUND(a.w * b.w, 8) AS DECIMAL(28,10))) AS DOUBLE) AS dot
  FROM w a JOIN w b ON a.t = b.t AND a.source = b.source
       AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d.id_a, d.id_b,
       ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.id_a
JOIN norms nb ON nb.doc_id = d.id_b
WHERE ROUND(d.dot / (na.nrm * nb.nrm), 6) >= 0.35
ORDER BY id_a, id_b
"""


@declare(
    "q_sparse_cosine_pairs",
    oracle=QSPARSE_ORACLE,
    description="all-pairs sparse TF-IDF cosine via term-at-a-time inverted index, within-source groups (J5/IR [ext])",
)
def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.textops import tfidf_cosine_pairs

    # the IDF denominator is the corpus size — define the corpus as
    # identified, text-bearing docs on BOTH sides, or a single NULL row
    # shifts ln(n/df) for every term (NULL-fuzz sweep)
    docs = load_tables(spark, sf_dir, "documents")["documents"].filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    return (
        tfidf_cosine_pairs(
            docs, "doc_id", "text", group_col="source", min_cosine=0.35
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Deterministic synthetic coordinates: integer congruential placement
# from the entity key (exact integer arithmetic, one exact division by
# 100), latitudes clamped to [-60, 60) so grid blocking is lossless
# with cos(60°) = 0.5 (operators/geo.min_cell_deg).
def _cust_coords(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "clat", ((F.col("c_custkey") * 37 % 12000) / F.lit(100.0)) - F.lit(60.0)
    ).withColumn(
        "clon", ((F.col("c_custkey") * 91 % 36000) / F.lit(100.0)) - F.lit(180.0)
    )


_CUST_COORDS_SQL = """
  SELECT c_custkey, c_acctbal,
         ((c_custkey * 37 % 12000) / 100.0) - 60.0 AS clat,
         ((c_custkey * 91 % 36000) / 100.0) - 180.0 AS clon
  FROM customer
"""


QGEO_CELLS_ORACLE = f"""
WITH pts AS ({_CUST_COORDS_SQL})
SELECT CAST(FLOOR(clon / 10.0) AS BIGINT) AS cell_x,
       CAST(FLOOR(clat / 10.0) AS BIGINT) AS cell_y,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4)
         AS avg_bal
FROM pts
GROUP BY 1, 2
ORDER BY cell_x, cell_y
"""


@declare(
    "q_geo_cell_stats",
    oracle=QGEO_CELLS_ORACLE,
    description="grid-cell spatial aggregation of synthetic customer coordinates — geo bucketing with exact-decimal balance averages (geo [ext])",
)
def q_geo_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.geo import grid_cell

    cust = _cust_coords(load_tables(spark, sf_dir, "customer")["customer"])
    cx, cy = grid_cell(F.col("clat"), F.col("clon"), 10.0)
    return (
        cust.withColumn("cell_x", cx)
        .withColumn("cell_y", cy)
        .groupBy("cell_x", "cell_y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_bal"),
        )
        .orderBy("cell_x", "cell_y")
    )


# ---------------------------------------------------------------------------
# Bounded-radius nearest-neighbor geo join: every customer's nearest
# supplier within 2000 km, grid-blocked (operators/geo.geo_radius_join
# — the 3x3-neighborhood equi-join, never a cross join).  The oracle
# IS the cross join (150k pairs at sf0.01 — fine for DuckDB, the exact
# thing the operator exists to avoid at scale), with the haversine
# formula written as the identical expression tree.
_HAVERSINE_SQL = (
    "12742.0 * ASIN(SQRT("
    "SIN(RADIANS(slat - clat) / 2) * SIN(RADIANS(slat - clat) / 2)"
    " + COS(RADIANS(clat)) * COS(RADIANS(slat))"
    " * SIN(RADIANS(slon - clon) / 2) * SIN(RADIANS(slon - clon) / 2)))"
)

QGEO_NEAREST_ORACLE = f"""
WITH c AS ({_CUST_COORDS_SQL}),
s AS (
  SELECT s_suppkey,
         ((s_suppkey * 67 % 12000) / 100.0) - 60.0 AS slat,
         ((s_suppkey * 149 % 36000) / 100.0) - 180.0 AS slon
  FROM supplier
), pairs AS (
  SELECT c.c_custkey, s.s_suppkey, {_HAVERSINE_SQL} AS dist_km
  FROM c CROSS JOIN s
), hits AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY c_custkey ORDER BY dist_km, s_suppkey) AS rn,
         COUNT(*) OVER (PARTITION BY c_custkey) AS n_within
  FROM pairs WHERE dist_km <= 2000.0
)
SELECT c_custkey, s_suppkey AS nearest_suppkey,
       ROUND(dist_km, 3) AS dist_km, CAST(n_within AS BIGINT) AS n_within
FROM hits WHERE rn = 1
ORDER BY c_custkey
"""


@declare(
    "q_geo_radius_nearest",
    oracle=QGEO_NEAREST_ORACLE,
    description="nearest supplier within 2000 km per customer via grid-blocked haversine radius join — lossless 3x3 cell neighborhood, cross-join oracle (geo [ext])",
)
def q_geo_radius_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.geo import geo_radius_join

    t = load_tables(spark, sf_dir, "customer", "supplier")
    cust = _cust_coords(t["customer"]).select("c_custkey", "clat", "clon")
    supp = (
        t["supplier"]
        .withColumn(
            "slat", ((F.col("s_suppkey") * 67 % 12000) / F.lit(100.0)) - F.lit(60.0)
        )
        .withColumn(
            "slon", ((F.col("s_suppkey") * 149 % 36000) / F.lit(100.0)) - F.lit(180.0)
        )
        .select("s_suppkey", "slat", "slon")
    )
    pairs = geo_radius_join(
        cust,
        supp,
        radius_km=2000.0,
        left_coords=("clat", "clon"),
        right_coords=("slat", "slon"),
        max_abs_lat=60.0,
    )
    w = Window.partitionBy("c_custkey").orderBy("dist_km", "s_suppkey")
    wc = Window.partitionBy("c_custkey")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .withColumn("n_within", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("s_suppkey").alias("nearest_suppkey"),
            F.round("dist_km", 3).alias("dist_km"),
            "n_within",
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering: cosine similarity of parts from
# order-basket co-occurrence, top-3 neighbors per part.  cos(i,j) =
# |orders with both| / sqrt(|orders with i| * |orders with j|) — all
# integer counts, one deterministic double expression.  Pair
# generation is the within-basket self-join (baskets are small; the
# quadratic is per-basket, not global), neighbor selection a keyed
# window.
QITEMCOS_ORACLE = """
WITH bi AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), cnt AS (
  SELECT l_partkey, COUNT(*) AS c FROM bi GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS i, b.l_partkey AS j, COUNT(*) AS cij
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey
   AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), sym AS (
  SELECT i, j, cij FROM pairs
  UNION ALL
  SELECT j AS i, i AS j, cij FROM pairs
), scored AS (
  SELECT s.i, s.j, s.cij,
         CAST(s.cij AS DOUBLE) / SQRT(CAST(ci.c AS DOUBLE) * cj.c) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY s.i
           ORDER BY CAST(s.cij AS DOUBLE) / SQRT(CAST(ci.c AS DOUBLE) * cj.c) DESC,
                    s.j) AS rn
  FROM sym s
  JOIN cnt ci ON ci.l_partkey = s.i
  JOIN cnt cj ON cj.l_partkey = s.j
)
SELECT i AS partkey, j AS neighbor, CAST(cij AS BIGINT) AS n_co,
       ROUND(cosine, 6) AS cosine
FROM scored WHERE rn <= 3
ORDER BY partkey, neighbor
"""


@declare(
    "q_item_item_cosine",
    oracle=QITEMCOS_ORACLE,
    description="item-item cosine similarity from basket co-occurrence with top-3 neighbors per part — co-occurrence recommender over within-basket pair join (recommender [ext])",
)
def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    bi = li.select("l_orderkey", "l_partkey").distinct()
    cnt = bi.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = bi.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("i"))
    b = bi.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("j"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("cij"))
    )
    # (An explode-both-orientations rewrite was tried in r12 and
    # reverted: the union's second branch rides ReusedExchange, so the
    # duplicated subtree is mostly a re-read, and the explode measured
    # +0.25 s in a same-session ABAB.)
    sym = pairs.unionByName(
        pairs.select(F.col("j").alias("i"), F.col("i").alias("j"), "cij")
    )
    scored = (
        sym.join(cnt.select(F.col("l_partkey").alias("i"), F.col("c").alias("ci")), "i")
        .join(cnt.select(F.col("l_partkey").alias("j"), F.col("c").alias("cj")), "j")
        .withColumn(
            "cosine",
            F.col("cij").cast("double") / F.sqrt(F.col("ci").cast("double") * F.col("cj")),
        )
    )
    w = Window.partitionBy("i").orderBy(F.col("cosine").desc(), F.col("j"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("i").alias("partkey"),
            F.col("j").alias("neighbor"),
            F.col("cij").cast("long").alias("n_co"),
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy("partkey", "neighbor")
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


QGEO_NN_ORACLE = f"""
WITH c AS (
  SELECT c_custkey,
         ((c_custkey * 37 % 12000) / 100.0) - 60.0 AS clat,
         ((c_custkey * 91 % 36000) / 100.0) - 180.0 AS clon
  FROM customer WHERE c_custkey IS NOT NULL
), s AS (
  SELECT s_suppkey,
         ((s_suppkey * 67 % 12000) / 100.0) - 60.0 AS slat,
         ((s_suppkey * 149 % 36000) / 100.0) - 180.0 AS slon
  FROM supplier WHERE s_suppkey IS NOT NULL
), pairs AS (
  SELECT c.c_custkey, s.s_suppkey, {_HAVERSINE_SQL} AS d
  FROM c CROSS JOIN s
), ranked AS (
  SELECT c_custkey, s_suppkey, d,
         ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
  FROM pairs
)
SELECT c_custkey, s_suppkey AS nearest_suppkey, ROUND(d, 3) AS dist_km
FROM ranked WHERE rn = 1
ORDER BY c_custkey
"""


@declare(
    "q_geo_nearest_only",
    oracle=QGEO_NN_ORACLE,
    description="unbounded nearest supplier per customer via progressive radius refinement — dense points resolve at small radii, only isolated points probe large ones (geo NN [ext])",
)
def q_geo_nearest_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.geo import geo_nearest_join

    t = load_tables(spark, sf_dir, "customer", "supplier")
    # NULL contract (relational fuzz sweep): synthetic coordinates are
    # key-derived — a NULL key is a point with no position
    t["customer"] = t["customer"].filter(F.col("c_custkey").isNotNull())
    t["supplier"] = t["supplier"].filter(F.col("s_suppkey").isNotNull())
    cust = t["customer"].select(
        "c_custkey",
        (((F.col("c_custkey") * 37 % 12000) / F.lit(100.0)) - F.lit(60.0)).alias(
            "clat"
        ),
        (((F.col("c_custkey") * 91 % 36000) / F.lit(100.0)) - F.lit(180.0)).alias(
            "clon"
        ),
    )
    supp = t["supplier"].select(
        "s_suppkey",
        (((F.col("s_suppkey") * 67 % 12000) / F.lit(100.0)) - F.lit(60.0)).alias(
            "slat"
        ),
        (((F.col("s_suppkey") * 149 % 36000) / F.lit(100.0)) - F.lit(180.0)).alias(
            "slon"
        ),
    )
    nn = geo_nearest_join(
        cust,
        supp,
        left_id="c_custkey",
        right_id="s_suppkey",
        left_coords=("clat", "clon"),
        right_coords=("slat", "slon"),
        start_radius_km=250.0,
        max_radius_km=20040.0,
    )
    return nn.select(
        "c_custkey",
        F.col("s_suppkey").alias("nearest_suppkey"),
        F.round("dist_km", 3).alias("dist_km"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Retrieval evaluation: NDCG@5 and MRR over the exact cosine top-k
# ([ext] ML-eval — the metric layer of a retrieval/RAG pipeline; the
# ranking itself is q_knn_bruteforce's proven engine-deterministic
# form: cosine rounded to 6 before ranking, ties on vec_id).  Graded
# relevance comes from the fixture labels (3 = label match, 1 = label
# congruent mod 4, 0 otherwise); each DCG term
# (2^rel − 1)/log2(rank+1) is one double expression over a finite
# (rel, rank) set, rounded to 10 decimals and DECIMAL-summed so both
# engines add identical addends in any order.  IDCG re-ranks the SAME
# retrieved 5 by (rel desc, rank) — the standard local-ideal form.
# Scale: queries broadcast against the corpus scan, per-query top-k
# window, then all metric math on #queries × k rows.
QNDCG_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec, label AS q_label
  FROM embeddings WHERE vec_id % 100 = 0
), pairs AS (
  SELECT q.q_id, q.q_label, e.vec_id, e.label,
         ROUND(list_dot_product(q.q_vec, CAST(e.embedding AS DOUBLE[]))
               / (SQRT(list_dot_product(q.q_vec, q.q_vec))
                  * SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))), 6)
           AS cosine_sim
  FROM q, embeddings e
  WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, q_label, vec_id, label, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine_sim DESC, vec_id) AS rank
  FROM pairs
), top AS (
  SELECT q_id,
         CASE WHEN q_label = label THEN 3
              WHEN q_label % 4 = label % 4 THEN 1 ELSE 0 END AS rel,
         rank
  FROM ranked WHERE rank <= 5
), ideal AS (
  SELECT q_id, rel, rank,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, rank) AS irank
  FROM top
), terms AS (
  SELECT q_id, rel, rank,
         CAST(ROUND((POWER(2, rel) - 1) / (LN(rank + 1) / LN(2)), 10)
              AS DECIMAL(18,10)) AS dterm,
         CAST(ROUND((POWER(2, rel) - 1) / (LN(irank + 1) / LN(2)), 10)
              AS DECIMAL(18,10)) AS iterm
  FROM ideal
), agg AS (
  SELECT q_id,
         CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         CAST(SUM(dterm) AS DOUBLE) AS dcg,
         CAST(SUM(iterm) AS DOUBLE) AS idcg,
         MIN(CASE WHEN rel > 0 THEN rank END) AS first_rel
  FROM terms GROUP BY q_id
)
SELECT q_id, n_rel,
       ROUND(dcg, 6) AS dcg5,
       ROUND(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg5,
       ROUND(COALESCE(1.0 / first_rel, 0.0), 6) AS rr
FROM agg
ORDER BY q_id
"""


@declare(
    "q_retrieval_ndcg",
    oracle=QNDCG_ORACLE,
    description="NDCG@5 + MRR retrieval evaluation over the exact cosine top-k with label-graded relevance — decimal-summed DCG terms, local-ideal normalization (ML-eval [ext])",
)
def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators import similarity as sim

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    top = (
        sim.knn_bruteforce(queries, emb, "q_id", "q_vec", "vec_id", "embedding", k=5)
        .join(F.broadcast(queries.select("q_id", "q_label")), "q_id")
        .join(emb.select("vec_id", "label"), "vec_id")
        .select(
            "q_id",
            F.when(F.col("q_label") == F.col("label"), 3)
            .when(F.col("q_label") % 4 == F.col("label") % 4, 1)
            .otherwise(0)
            .alias("rel"),
            "rank",
        )
    )
    # local-ideal re-rank of the SAME retrieved 5 (≤ 5 rows per query)
    iw = Window.partitionBy("q_id").orderBy(F.desc("rel"), F.asc("rank"))
    ideal = top.withColumn("irank", F.row_number().over(iw))
    dterm = F.round(
        (F.pow(F.lit(2.0), F.col("rel")) - 1)
        / (F.log(F.col("rank") + 1) / F.log(F.lit(2.0))),
        10,
    ).cast("decimal(18,10)")
    iterm = F.round(
        (F.pow(F.lit(2.0), F.col("rel")) - 1)
        / (F.log(F.col("irank") + 1) / F.log(F.lit(2.0))),
        10,
    ).cast("decimal(18,10)")
    agg = (
        ideal.withColumn("dterm", dterm)
        .withColumn("iterm", iterm)
        .groupBy("q_id")
        .agg(
            F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).cast("long").alias("n_rel"),
            F.sum("dterm").cast("double").alias("dcg"),
            F.sum("iterm").cast("double").alias("idcg"),
            F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("first_rel"),
        )
    )
    return agg.select(
        "q_id",
        "n_rel",
        F.round("dcg", 6).alias("dcg5"),
        F.round(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).otherwise(0.0), 6
        ).alias("ndcg5"),
        F.round(F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6).alias(
            "rr"
        ),
    ).orderBy("q_id")


# ---------------------------------------------------------------------------
# Simplified silhouette (Hruschka et al.'s centroid-based variant —
# the O(n·k) silhouette every at-scale evaluator uses instead of the
# O(n²) pairwise original): clusters = market segments, feature =
# acctbal in exact integer cents; a = |v − own centroid|, b = min
# over other centroids; s = (b−a)/max(a,b).  Centroids are a 5-row
# broadcast; per-term contributions rounded then decimal-summed.

QSIL_ORACLE = """
WITH pts AS (
  SELECT c_mktsegment AS seg,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
  FROM customer
), cent AS (
  SELECT seg, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mu FROM pts GROUP BY seg
), scored AS (
  SELECT p.seg, p.v,
         abs(p.v - own.mu) AS a,
         MIN(abs(p.v - oth.mu)) AS b
  FROM pts p
  JOIN cent own ON own.seg = p.seg
  JOIN cent oth ON oth.seg <> p.seg
  GROUP BY p.seg, p.v, own.mu
), sil AS (
  SELECT seg,
         CAST(ROUND(CASE WHEN greatest(a, b) = 0 THEN 0
                         ELSE (b - a) / greatest(a, b) END, 10)
              AS DECIMAL(28,12)) AS s
  FROM scored
)
SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_silhouette
FROM sil GROUP BY seg ORDER BY seg
"""


@declare(
    "q_silhouette_simplified",
    oracle=QSIL_ORACLE,
    description="Simplified (centroid-based) silhouette of the market-segment clustering over exact-cents acctbal: O(n·k) with a k-row broadcast centroid table, rounded-addend decimal mean per cluster (clustering eval [ext])",
)
def q_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    pts = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v"),
    )
    pts = pts.localCheckpoint(eager=True)  # centroids + scoring share it
    cent = pts.groupBy("seg").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mu")
    )
    own = cent.select(F.col("seg"), F.col("mu").alias("mu_own"))
    oth = cent.select(F.col("seg").alias("oseg"), F.col("mu").alias("mu_oth"))
    scored = (
        pts.join(F.broadcast(own), "seg")
        .join(F.broadcast(oth), F.col("oseg") != F.col("seg"))
        .groupBy("seg", "v", "mu_own")
        .agg(F.min(F.abs(F.col("v") - F.col("mu_oth"))).alias("b"))
        .withColumn("a", F.abs(F.col("v") - F.col("mu_own")))
    )
    s = (
        F.when(F.greatest("a", "b") == 0, F.lit(0.0))
        .otherwise((F.col("b") - F.col("a")) / F.greatest("a", "b"))
    )
    sil = scored.select(
        "seg", F.round(s, 10).cast("decimal(28,12)").alias("s")
    )
    return (
        sil.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("s").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# MMR-diversified retrieval: relevance = rounded cosine to the
# vec_id=0 query; greedy k=3 selection with λ=0.7.  The oracle
# unrolls the three greedy steps explicitly (each step a 1-row
# TakeOrdered over the rescored candidates) — the same arithmetic the
# operator runs, engine-for-engine.

QMMR_ORACLE = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id <> 0
), rel AS (
  SELECT c.vec_id, c.v,
         ROUND(list_dot_product(c.v, q.qv)
               / (SQRT(list_dot_product(c.v, c.v))
                  * SQRT(list_dot_product(q.qv, q.qv))), 10) AS rel
  FROM c CROSS JOIN q
), s1 AS (
  SELECT vec_id, v, rel, rel AS score FROM rel ORDER BY rel DESC, vec_id LIMIT 1
), m2 AS (
  SELECT r.vec_id, r.v, r.rel,
         ROUND(0.7 * r.rel - 0.3 * ROUND(list_dot_product(r.v, s.v)
               / (SQRT(list_dot_product(r.v, r.v))
                  * SQRT(list_dot_product(s.v, s.v))), 10), 10) AS score
  FROM rel r CROSS JOIN s1 s WHERE r.vec_id <> s.vec_id
), s2 AS (
  SELECT vec_id, v, rel, score FROM m2 ORDER BY score DESC, vec_id LIMIT 1
), m3 AS (
  SELECT r.vec_id, r.rel,
         ROUND(0.7 * r.rel - 0.3 * GREATEST(
           ROUND(list_dot_product(r.v, a.v)
                 / (SQRT(list_dot_product(r.v, r.v))
                    * SQRT(list_dot_product(a.v, a.v))), 10),
           ROUND(list_dot_product(r.v, b.v)
                 / (SQRT(list_dot_product(r.v, r.v))
                    * SQRT(list_dot_product(b.v, b.v))), 10)), 10) AS score
  FROM rel r CROSS JOIN s1 a CROSS JOIN s2 b
  WHERE r.vec_id <> a.vec_id AND r.vec_id <> b.vec_id
), s3 AS (
  SELECT vec_id, rel, score FROM m3 ORDER BY score DESC, vec_id LIMIT 1
)
SELECT CAST(1 AS BIGINT) AS rank, vec_id, ROUND(rel, 6) AS relevance,
       ROUND(score, 6) AS mmr_score FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), vec_id, ROUND(rel, 6), ROUND(score, 6) FROM s2
UNION ALL
SELECT CAST(3 AS BIGINT), vec_id, ROUND(rel, 6), ROUND(score, 6) FROM s3
ORDER BY rank
"""


@declare(
    "q_mmr_diversify",
    oracle=QMMR_ORACLE,
    description="MMR-diversified top-3 retrieval (λ=0.7) against the vec_id=0 query: k driver rounds, selected vectors as broadcast plan literals, 1-row TakeOrdered per round — never a candidate×candidate materialization (retrieval [ext])",
)
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.similarity import cosine, mmr_select

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cands = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(cosine(F.col("embedding"), F.col("qv")), 10).alias("rel"),
        )
    )
    picked = mmr_select(
        cands, "vec_id", "embedding", "rel", k=3, lam=0.7, lam_comp=0.3
    )
    return picked.select(
        "rank",
        "vec_id",
        F.round("rel", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# PCA by power iteration.  Covariance of the 4 lineitem measures from
# one pass of exact decimal moments; three v ← C·v / ‖C·v‖ steps with
# rounded-addend decimal sums for both the matvec and the norm.

_PCA_STEP_SQL = """
, u{i} AS (
  SELECT cov.i AS i,
         CAST(SUM(CAST(ROUND(cov.c * v.v, 10) AS DECIMAL(38,12)))
              AS DOUBLE) AS u
  FROM cov JOIN v{p} v ON v.i = cov.j
  GROUP BY cov.i
), n{i} AS (
  SELECT sqrt(CAST(SUM(CAST(ROUND(u * u, 6) AS DECIMAL(38,8)))
              AS DOUBLE)) AS nrm
  FROM u{i}
), v{i} AS (
  SELECT u.i, u.u / n.nrm AS v FROM u{i} u CROSS JOIN n{i} n
)"""

def _corr_sql_cell(i: int, j: int) -> str:
    a, b = (i, j) if i <= j else (j, i)
    if i == j:
        return f"SELECT {i} AS i, {j} AS j, CAST(1.0 AS DOUBLE) AS c FROM mom"
    return (
        f"SELECT {i} AS i, {j} AS j, ROUND("
        f"(n * CAST(s{a}{b} AS DOUBLE) - CAST(s{a} AS DOUBLE) * CAST(s{b} AS DOUBLE))"
        f" / sqrt((n * CAST(s{a}{a} AS DOUBLE) - CAST(s{a} AS DOUBLE) * CAST(s{a} AS DOUBLE))"
        f" * (n * CAST(s{b}{b} AS DOUBLE) - CAST(s{b} AS DOUBLE) * CAST(s{b} AS DOUBLE))), 10) AS c"
        f" FROM mom"
    )


QPCA_ORACLE = (
    """
WITH m AS (
  SELECT CAST(l_quantity AS DECIMAL(19,4)) AS x1,
         CAST(l_extendedprice AS DECIMAL(19,4)) AS x2,
         CAST(l_discount AS DECIMAL(19,4)) AS x3,
         CAST(l_tax AS DECIMAL(19,4)) AS x4
  FROM lineitem
), mom AS (
  SELECT COUNT(*) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3, SUM(x4) AS s4,
         SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x1*x3) AS s13,
         SUM(x1*x4) AS s14, SUM(x2*x2) AS s22, SUM(x2*x3) AS s23,
         SUM(x2*x4) AS s24, SUM(x3*x3) AS s33, SUM(x3*x4) AS s34,
         SUM(x4*x4) AS s44
  FROM m
), cov AS (
"""
    + "\n  UNION ALL ".join(
        _corr_sql_cell(i, j) for i in range(1, 5) for j in range(1, 5)
    )
    + """
), v0 AS (
  SELECT i, CAST(0.5 AS DOUBLE) AS v FROM (VALUES (1), (2), (3), (4)) t(i)
)"""
    + _PCA_STEP_SQL.format(i=1, p=0)
    + _PCA_STEP_SQL.format(i=2, p=1)
    + _PCA_STEP_SQL.format(i=3, p=2)
    + """
SELECT CAST(v.i AS BIGINT) AS component,
       ROUND(v.v, 6) AS loading,
       ROUND(n.nrm, 6) AS eigenvalue_est
FROM v3 v CROSS JOIN n3 n
ORDER BY component
"""
)


@declare(
    "q_pca_power_iteration",
    oracle=QPCA_ORACLE,
    description="Dominant principal component of the 4 lineitem measures: correlation matrix from ONE pass of exact decimal moments, 3 power-iteration steps with rounded-addend decimal matvec/norm sums — distributed PCA via sufficient statistics (linear algebra [ext])",
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    xs = [
        F.col("l_quantity").cast("decimal(18,4)"),
        F.col("l_extendedprice").cast("decimal(18,4)"),
        F.col("l_discount").cast("decimal(18,4)"),
        F.col("l_tax").cast("decimal(18,4)"),
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(xs[i]).alias(f"s{i+1}") for i in range(4)]
    for i in range(4):
        for j in range(i, 4):
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"s{i+1}{j+1}"))
    # r12 (guide §2.5/§2.3): the fixture scan is one row group, so the
    # 15 decimal multiply-accumulates ran map-side on ONE core (probe:
    # 1.7 s unspread vs 1.1 s spread, warm).  Project to the four
    # measures, then a deterministic hash spread; decimal sums are
    # order-free exact, so placement cannot change the moments.
    from jibaro_spark.operators.util import ensure_parallelism

    li = ensure_parallelism(
        li.select("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        by="l_extendedprice",
    )
    mom = li.agg(*aggs).collect()[0]  # 15 scalars: the one data pass
    n = int(mom["n"])
    raw_rows = []
    for i in range(1, 5):
        for j in range(1, 5):
            a, b = (i, j) if i <= j else (j, i)
            raw_rows.append(
                (
                    i,
                    j,
                    float(mom[f"s{a}{b}"]),
                    float(mom[f"s{a}"]),
                    float(mom[f"s{b}"]),
                    float(mom[f"s{a}{a}"]),
                    float(mom[f"s{b}{b}"]),
                )
            )
    # the 4×4 algebra runs on bounded rows — driver-free, plan-literal.
    # CORRELATION, not covariance: corr is O(1), so the stabilizing
    # round(·, 10) stays far inside double precision (a 1e9-magnitude
    # covariance rounded at 1e-6 is ulp-noise the two engines resolve
    # differently — the sf0.01 lesson).  Rounding happens IN-ENGINE
    # (F.round ≡ DuckDB ROUND); Python's round() is banker's.
    num = F.lit(n) * F.col("sab") - F.col("sa") * F.col("sb")
    den = F.sqrt(
        (F.lit(n) * F.col("saa") - F.col("sa") * F.col("sa"))
        * (F.lit(n) * F.col("sbb") - F.col("sb") * F.col("sb"))
    )
    cov = local_frame(
        spark,
        raw_rows,
        "i int, j int, sab double, sa double, sb double, saa double, sbb double",
    ).select(
        "i",
        "j",
        F.when(F.col("i") == F.col("j"), F.lit(1.0))
        .otherwise(F.round(num / den, 10))
        .alias("c"),
    )
    v = local_frame(spark, [(i, 0.5) for i in range(1, 5)], "i int, v double")
    nrm_df = None
    for _ in range(3):
        u = (
            cov.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(
                F.sum(F.round(F.col("c") * F.col("v"), 10).cast("decimal(38,12)"))
                .cast("double")
                .alias("u")
            )
        )
        # Pin each step's matvec (r12, guide §3.3): u feeds both the
        # norm and the renormalized v, so the unpinned loop doubled
        # the plan per step (154 Exchange nodes over 4-row frames).
        # Lazy; 4 rows.
        u = u.localCheckpoint(eager=False)
        nrm_df = u.agg(
            F.sqrt(
                F.sum(
                    F.round(F.col("u") * F.col("u"), 6).cast("decimal(38,8)")
                ).cast("double")
            ).alias("nrm")
        )
        v = u.crossJoin(F.broadcast(nrm_df)).select(
            "i", (F.col("u") / F.col("nrm")).alias("v")
        )
    return (
        v.crossJoin(F.broadcast(nrm_df))
        .select(
            F.col("i").cast("long").alias("component"),
            F.round("v", 6).alias("loading"),
            F.round("nrm", 6).alias("eigenvalue_est"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# Calinski-Harabasz: (SSB/(k−1)) / (SSW/(n−k)) over the segment
# clustering of exact-cents acctbal, from one moment pass.

QCH_ORACLE = """
WITH pts AS (
  SELECT c_mktsegment AS seg,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
  FROM customer
), g AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS BIGINT) AS ss
  FROM pts GROUP BY seg
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(s AS HUGEINT)) AS BIGINT) AS st,
         CAST(SUM(CAST(ss AS HUGEINT)) AS BIGINT) AS sst,
         CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n, 6)
              AS DECIMAL(28,8))) AS DOUBLE) AS sq_over_n
  FROM g
)
SELECT k AS n_clusters, nn AS n_rows,
       ROUND((sq_over_n - CAST(st AS DOUBLE) * st / nn) / (k - 1)
             / ((CAST(sst AS DOUBLE) - sq_over_n) / (nn - k)), 6) AS ch_index
FROM tot
"""


@declare(
    "q_calinski_harabasz",
    oracle=QCH_ORACLE,
    description="Calinski-Harabasz clustering-validity index of the segment clustering over exact-cents acctbal — SSB/SSW moment identities from one pass (clustering eval [ext])",
)
def q_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    pts = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v"),
    )
    g = pts.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    sq_over_n = F.round(
        F.col("s").cast("double") * F.col("s") / F.col("n"), 6
    ).cast("decimal(28,8)")
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ss").cast("long").alias("sst"),
        F.sum(sq_over_n).cast("double").alias("sq_over_n"),
    )
    return tot.select(
        F.col("k").alias("n_clusters"),
        F.col("nn").alias("n_rows"),
        F.round(
            (F.col("sq_over_n") - F.col("st").cast("double") * F.col("st") / F.col("nn"))
            / (F.col("k") - 1)
            / (
                (F.col("sst").cast("double") - F.col("sq_over_n"))
                / (F.col("nn") - F.col("k"))
            ),
            6,
        ).alias("ch_index"),
    )


# ---------------------------------------------------------------------------
# Davies-Bouldin: per-cluster scatter S_g = sqrt(SSW_g / n_g), pairwise
# ratio (S_i + S_j)/|m_i − m_j|, per-cluster worst ratio.  All the
# pairwise algebra runs on k² ≤ 25 moment rows.

QDB_ORACLE = """
WITH pts AS (
  SELECT c_mktsegment AS seg,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
  FROM customer
), g AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS HUGEINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS BIGINT) AS ss
  FROM pts GROUP BY seg
), sc AS (
  SELECT seg, n, CAST(s AS DOUBLE) / n AS mu,
         sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n) AS scat
  FROM g
), ratios AS (
  SELECT a.seg, ROUND((a.scat + b.scat) / abs(a.mu - b.mu), 10) AS r
  FROM sc a JOIN sc b ON a.seg <> b.seg
)
SELECT s.seg, s.n, ROUND(s.scat, 6) AS scatter,
       ROUND(MAX(r.r), 6) AS worst_ratio
FROM sc s JOIN ratios r USING (seg)
GROUP BY s.seg, s.n, s.scat
ORDER BY s.seg
"""


@declare(
    "q_davies_bouldin",
    oracle=QDB_ORACLE,
    description="Davies-Bouldin per-cluster worst similarity ratios of the segment clustering (scatter + pairwise centroid gaps on k² moment rows) — the companion validity index to CH and silhouette (clustering eval [ext])",
)
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    pts = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("v"),
    )
    g = pts.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    sc = g.select(
        "seg",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / F.col("n")
        ).alias("scat"),
    )
    sc = sc.localCheckpoint(eager=True)  # both pair sides + output share it
    b = sc.select(
        F.col("seg").alias("bseg"), F.col("mu").alias("bmu"), F.col("scat").alias("bscat")
    )
    ratios = (
        sc.join(F.broadcast(b), F.col("seg") != F.col("bseg"))
        .select(
            "seg",
            F.round(
                (F.col("scat") + F.col("bscat")) / F.abs(F.col("mu") - F.col("bmu")),
                10,
            ).alias("r"),
        )
        .groupBy("seg")
        .agg(F.max("r").alias("worst"))
    )
    return (
        sc.join(F.broadcast(ratios), "seg")
        .select(
            "seg",
            "n",
            F.round("scat", 6).alias("scatter"),
            F.round("worst", 6).alias("worst_ratio"),
        )
        .orderBy("seg")
    )


# Deterministic synthetic coordinates (round-6b convention):
# lat ∈ [-60, 60), lon ∈ [-180, 180) from the customer key.
_PTS_SQL = """
  SELECT c_custkey,
         ((c_custkey * 37 % 12000) / 100.0) - 60.0 AS lat,
         ((c_custkey * 91 % 36000) / 100.0) - 180.0 AS lon
  FROM customer
"""

QDBSCAN_ORACLE = f"""
WITH RECURSIVE pts AS ({_PTS_SQL}),
cells AS (
  SELECT CAST(FLOOR(lat / 2.0) AS BIGINT) AS cx,
         CAST(FLOOR(lon / 2.0) AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 1, 2
), thresh AS (
  SELECT CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_n FROM cells
), core AS (
  SELECT cx, cy, n, (cx + 60) * 1000 + (cy + 180) AS cid
  FROM cells CROSS JOIN thresh WHERE n > mean_n
), edges AS (
  SELECT a.cid AS src, b.cid AS dst
  FROM core a JOIN core b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.cid <> b.cid
), comp AS (
  SELECT cid AS node, cid AS root FROM core
  UNION
  SELECT e.dst AS node, c.root FROM comp c JOIN edges e ON e.src = c.node
), labels AS (
  SELECT node, MIN(root) AS cluster_id FROM comp GROUP BY node
)
SELECT l.cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(k.n) AS BIGINT) AS n_points
FROM labels l JOIN core k ON k.cid = l.node
GROUP BY l.cluster_id
HAVING COUNT(*) >= 2
ORDER BY l.cluster_id
"""


@declare(
    "q_grid_dbscan",
    oracle=QDBSCAN_ORACLE,
    description="Grid-based density clustering (scalable DBSCAN surrogate): above-mean-density 2° cells merged through 8-neighbor adjacency equi-joins + connected components; oracle replays incl. recursive-CTE closure (spatial clustering [ext])",
)
def q_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import connected_components

    cust = load_tables(spark, sf_dir, "customer")["customer"]
    pts = cust.select(
        (((F.col("c_custkey") * 37) % 12000) / 100.0 - 60.0).alias("lat"),
        (((F.col("c_custkey") * 91) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    cells = pts.groupBy(
        F.floor(F.col("lat") / 2.0).cast("long").alias("cx"),
        F.floor(F.col("lon") / 2.0).cast("long").alias("cy"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    cells = cells.localCheckpoint(eager=True)  # threshold + core share it
    thresh = cells.agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_n")
    )
    core = (
        cells.crossJoin(F.broadcast(thresh))
        .filter(F.col("n") > F.col("mean_n"))
        .select(
            "cx",
            "cy",
            "n",
            ((F.col("cx") + 60) * 1000 + (F.col("cy") + 180)).alias("cid"),
        )
    )
    core = core.localCheckpoint(eager=True)  # edges (both sides) + rollup
    b = core.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col("cid").alias("bcid")
    )
    edges = (
        core.join(
            b,
            (F.abs(F.col("cx") - F.col("bx")) <= 1)
            & (F.abs(F.col("cy") - F.col("by")) <= 1)
            & (F.col("cid") != F.col("bcid")),
        )
        .select(F.col("cid").alias("src"), F.col("bcid").alias("dst"))
    )
    comp = connected_components(edges)
    labeled = core.join(comp, core["cid"] == comp["node"], "left").select(
        "cid", "n", F.coalesce(F.col("component"), F.col("cid")).alias("cluster_id")
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n").cast("long").alias("n_points"),
        )
        .filter(F.col("n_cells") >= 2)
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Quadrat test of complete spatial randomness over the SAME cells.

QQUAD_ORACLE = f"""
WITH pts AS ({_PTS_SQL}),
cells AS (
  SELECT CAST(FLOOR(lat / 2.0) AS BIGINT) AS cx,
         CAST(FLOOR(lon / 2.0) AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 1, 2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS q, CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS BIGINT) AS ss
  FROM cells
)
SELECT q AS n_quadrats, nn AS n_points,
       ROUND(CAST(nn AS DOUBLE) / q, 6) AS mean_count,
       ROUND(((CAST(ss AS DOUBLE) - CAST(nn AS DOUBLE) * nn / q) / (q - 1))
             / (CAST(nn AS DOUBLE) / q), 6) AS dispersion_index,
       ROUND((CAST(ss AS DOUBLE) - CAST(nn AS DOUBLE) * nn / q)
             / (CAST(nn AS DOUBLE) / q), 6) AS chi2
FROM tot
"""


@declare(
    "q_quadrat_csr",
    oracle=QQUAD_ORACLE,
    description="Quadrat-count test of complete spatial randomness: index of dispersion (sample variance / mean) and chi-square over occupied 2° cells, exact integer moments (spatial stats [ext])",
)
def q_quadrat_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    pts = cust.select(
        (((F.col("c_custkey") * 37) % 12000) / 100.0 - 60.0).alias("lat"),
        (((F.col("c_custkey") * 91) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    cells = pts.groupBy(
        F.floor(F.col("lat") / 2.0).cast("long").alias("cx"),
        F.floor(F.col("lon") / 2.0).cast("long").alias("cy"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("q"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
    )
    mean = F.col("nn").cast("double") / F.col("q")
    ssdev = F.col("ss").cast("double") - F.col("nn").cast("double") * F.col("nn") / F.col("q")
    return tot.select(
        F.col("q").alias("n_quadrats"),
        F.col("nn").alias("n_points"),
        F.round(mean, 6).alias("mean_count"),
        F.round((ssdev / (F.col("q") - 1)) / mean, 6).alias("dispersion_index"),
        F.round(ssdev / mean, 6).alias("chi2"),
    )
