"""Round-10 declared queries — sketch-wing closure, end-to-end text
curation, join-view IVM, and distributed boosting.

Four families, each extending an existing verified wing rather than
opening a new unproven one:

* ``q_hist_quantile_sketch`` — the approx-quantile sketch finally gets
  its exact-replay twin (the way CMS got ``q_cms_heavy_hitters_md5``
  in r6 and HLL got ``q_hll_union_md5`` in r9): a mergeable fixed-bin
  histogram whose bin counts are map-side combinable integers, with
  within-bin linear interpolation for p50/p90/p99 and the exact
  distinct-value-ECDF quantile alongside for an oracle-checked error
  column.  At 100 TB the sketch is the only part that scales — the
  exact lane exists to *verify* the estimator, bounded by the value
  domain.
* ``q_minhash_dedup_clusters`` — the full text-curation tail in md5
  verifiable mode: banded MinHash-LSH candidate pairs (the
  ``q_minhash_band_pairs`` pipeline) → connected components →
  keep-best canonical per cluster (max ``n_chars``, tie min
  ``doc_id``).  DuckDB replays the WHOLE pipeline including the
  transitive closure (recursive CTE), mirroring the embedding-side
  ``q_embedding_dedup_clusters``.
* ``q_incremental_join`` — join-view IVM
  (``operators/cdc.incremental_join_apply``): ΔV = Δfact ⋈ dim, the
  stored view is never re-joined; oracle recomputes the post-change
  join from scratch.
* ``q_adaboost_round`` — two rounds of AdaBoost over decision stumps
  on two features (price cents, order epoch-day).  Round-1 errors are
  exact integers over distinct-value ECDFs (the ``q_gini_split``
  shape); round-2 example weights are ``round(exp(±α₁), 10)`` decimals
  so the weighted errors accumulate exactly; both argmins break ties
  on (err, feature, value, polarity) via TakeOrdered ``limit(1)`` —
  no global window.

Cross-engine conventions follow ``queries/registry.py``: integer /
decimal accumulation, doubles only at the output boundary, every
column aliased identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.llm import _zipgrams
from jibaro_spark.queries.registry import declare, load_tables

_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"

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
# End-to-end near-dup text curation in md5 verifiable mode ([ext]
# dedup) — the text-side sibling of q_embedding_dedup_clusters.  The
# candidate/verify stages are exactly the q_minhash_band_pairs
# pipeline (operators/dedup.py:456 md5 slot minima, 4×4 bands, ≥ 8/16
# slot verify ⇔ est Jaccard ≥ 0.5); the tail is connected components
# (large/small-star, O(log n) rounds) and a keep-best canonical per
# cluster (max n_chars, tie min doc_id).  DuckDB replays the whole
# thing — including the transitive closure via recursive CTE — so the
# driver hash-checks candidate generation, verification, clustering,
# and canonicalization in one row set.  At 100 TB: the band self-join
# carries (id, band_idx, band_hash) only, components converge in
# O(log n) keyed rounds, and the keep-best window partitions by
# cluster — no all-pairs stage anywhere.
QMHC_ORACLE = f"""
WITH RECURSIVE fp AS (
  -- exact-duplicate collapse FIRST (skew class r10): identical
  -- normalized texts have identical signatures, so the LSH/verify/
  -- closure stages run once per DISTINCT text; members inherit their
  -- representative's cluster.  rep = MIN doc_id of its group, so the
  -- component-wide min doc_id equals the min over reps — cluster ids
  -- are unchanged from the uncollapsed pipeline.
  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
  FROM documents WHERE text IS NOT NULL
), grp AS (
  SELECT f, MIN(doc_id) AS rep FROM fp GROUP BY f
), tk AS (
  -- bind the token list ONCE (_zipgrams caller contract)
  SELECT d.doc_id, d.n_chars, {_TOKS} AS words
  FROM documents d JOIN grp g ON g.rep = d.doc_id
), t AS (
  SELECT doc_id, n_chars,
         list_distinct({_zipgrams('words', 3)}) AS sh
  FROM tk
), s AS (
  SELECT doc_id, i.range AS slot, min(md5(CAST(i.range AS VARCHAR) || '|' || u.g)) AS m
  FROM t, unnest(t.sh) AS u(g), range(0, 16) AS i
  GROUP BY doc_id, i.range
), sig AS (
  SELECT doc_id, list(m ORDER BY slot) AS slots FROM s GROUP BY doc_id
), banded AS (
  SELECT doc_id, b.range AS band_idx,
         md5(array_to_string(list_slice(slots, CAST(b.range*4+1 AS BIGINT),
                                        CAST(b.range*4+4 AS BIGINT)), ',')) AS band_hash
  FROM sig, range(0, 4) AS b
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), pr AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN s sa ON sa.doc_id = c.id_a
  JOIN s sb ON sb.doc_id = c.id_b AND sb.slot = sa.slot
  GROUP BY c.id_a, c.id_b
  HAVING SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) >= 8
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pr
  UNION
  SELECT id_b AS a, id_a AS b FROM pr
), reach(src, dst) AS (
  -- transitive closure over the REP graph only (distinct texts);
  -- member docs attach below via their rep
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), comp AS (
  SELECT src AS vid, MIN(dst) AS cid FROM reach GROUP BY src
), clustered AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(c.cid, g.rep, d.doc_id) AS cluster_id
  FROM documents d
  LEFT JOIN fp ON fp.doc_id = d.doc_id
  LEFT JOIN grp g ON g.f = fp.f
  LEFT JOIN comp c ON g.rep = c.vid
)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       (ROW_NUMBER() OVER (PARTITION BY cluster_id
                           ORDER BY n_chars DESC, doc_id) = 1) AS keep
FROM clustered
ORDER BY doc_id
"""


@declare(
    "q_minhash_dedup_clusters",
    oracle=QMHC_ORACLE,
    description="End-to-end MinHash curation in md5 mode: banded-LSH pairs → connected components → keep-best canonical per cluster (max n_chars, tie min doc_id) — full pipeline incl. transitive closure oracle-replayed (dedup [ext])",
)
def q_minhash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.dedup import (
        _exact_text_collapse,
        minhash_slots_md5,
    )
    from jibaro_spark.operators.graph import dedup_clusters
    from jibaro_spark.operators.util import ensure_parallelism

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # Exact-duplicate collapse FIRST (skew class r10): identical
    # normalized texts carry identical signatures, so signatures, the
    # band self-join, slot verification, and connected components all
    # run once per DISTINCT text; members inherit their
    # representative's cluster below.  rep = min doc_id of its group,
    # so component minima (= cluster ids) are unchanged.  Without
    # this, a text duplicated to 50% of the corpus makes the candidate
    # stage quadratic in its copy count (the sweep's sf0.1 probe never
    # finished).
    reps, members = _exact_text_collapse(
        docs.filter(F.col("text").isNotNull()), "doc_id", "text"
    )
    # The md5 slot-minima aggregation is the dominant subtree and has
    # THREE consumers (banding + the two signature join-backs);
    # localCheckpoint pins it to one computation (the containment-join
    # discipline, BASELINE.md round-7 note).  Signatures exist only
    # for text-bearing docs (the oracle's unnest drops NULL text; the
    # cluster universe below still covers every doc).
    # Spread before the signature map (guide §2.5 input skew): the md5
    # slot minima are the CPU-dense per-row stage, and in the bypass
    # regime reps IS the raw single-file scan — one core otherwise.
    # Hash on doc_id (unique) keeps the exchange deterministic.
    # r12: a LAZY variant of this checkpoint (materialized by the CC
    # pair job) ABAB-measured 5.76 vs 5.51 s — the first lazy run pays
    # duplicated partition computation across the band join's concurrent
    # stages, and the steady-state min is no better.  Eager stays.
    sig = ensure_parallelism(reps, by="doc_id").select(
        F.col("doc_id").alias("__id"),
        minhash_slots_md5(F.col("text"), num_hashes=16, shingle_n=3).alias("__slots"),
    ).localCheckpoint(eager=True)
    banded = sig.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda bnd: F.struct(
                    bnd.alias("band_idx"),
                    F.md5(F.concat_ws(",", F.slice("__slots", bnd * 4 + 1, 4))).alias(
                        "band_hash"
                    ),
                ),
            )
        ).alias("bb"),
    ).select("__id", "bb.band_idx", "bb.band_hash")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    withsigs = cand.join(
        sig.select(F.col("__id").alias("id_a"), F.col("__slots").alias("sa")), "id_a"
    ).join(sig.select(F.col("__id").alias("id_b"), F.col("__slots").alias("sb")), "id_b")
    matches = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    pairs = (
        withsigs.withColumn("matches", matches)
        .where(F.col("matches") >= 8)
        .select("id_a", "id_b")
    )
    # components over the rep graph only; every doc then maps through
    # its representative's cluster (NULL-text docs have no rep and
    # stay singletons)
    rep_clusters = dedup_clusters(reps.select("doc_id"), pairs, "doc_id")
    if members is None:  # adaptive collapse: every doc is its own rep
        mapping = reps.select("doc_id", F.col("doc_id").alias("__r"))
    else:
        mapping = members.select(
            F.col("__gid").alias("doc_id"), F.col("__rep").alias("__r")
        )
    clustered = (
        docs.select("doc_id", "n_chars")
        .join(mapping, "doc_id", "left")
        .join(
            rep_clusters.select(
                F.col("doc_id").alias("__r"), F.col("cluster_id")
            ),
            "__r",
            "left",
        )
        .withColumn(
            "cluster_id",
            F.coalesce("cluster_id", "__r", "doc_id"),
        )
        .drop("__r")
    )
    size_w = Window.partitionBy("cluster_id")
    keep_w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return (
        clustered.select(
            "doc_id",
            "cluster_id",
            F.count(F.lit(1)).over(size_w).cast("long").alias("cluster_size"),
            (F.row_number().over(keep_w) == 1).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Join-view IVM ([ext] incremental view maintenance, third classic
# case).  The stored view is orders ⋈ customer at the order grain; a
# deterministic CDC batch (deletes %89, +10%-price updates %97,
# key-shifted inserts %101) maintains it through
# incremental_join_apply — Δfact joins the dimension, the view is
# touched only by a keyed anti-join.  The oracle recomputes the
# post-change join from scratch, pinning apply(V, Δ) == V′.
QIJ_ORACLE = """
WITH f0 AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), f1 AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 97 = 0 THEN cents + cents // 10
              ELSE cents END AS cents
  FROM f0 WHERE o_orderkey % 89 <> 0
  UNION ALL
  SELECT o_orderkey + 600000000, o_custkey, cents + 50000
  FROM f0
  WHERE o_orderkey % 101 = 0 AND o_orderkey % 89 <> 0 AND o_orderkey % 97 <> 0
), v AS (
  SELECT f.o_orderkey, c.c_nationkey, f.cents
  FROM f1 f JOIN customer c ON f.o_custkey = c.c_custkey
)
SELECT c_nationkey AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) / 100, 2) AS revenue
FROM v GROUP BY 1 ORDER BY 1
"""


@declare(
    "q_incremental_join",
    oracle=QIJ_ORACLE,
    description="Join-view IVM: maintain orders ⋈ customer under a CDC batch via delta-join + keyed anti-join (never re-joining the stored view), oracle = scratch recompute (IVM [ext])",
)
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.cdc import incremental_join_apply

    t = load_tables(spark, sf_dir, "orders", "customer")
    o, c = t["orders"], t["customer"]
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    fact0 = o.select("o_orderkey", "o_custkey", cents.alias("cents"))
    dim = c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    view0 = fact0.join(dim, "o_custkey").select(
        "o_orderkey", "o_custkey", "c_nationkey", "cents"
    )
    k = F.col("o_orderkey")
    dels = fact0.filter(k % 89 == 0).withColumn("op", F.lit("d"))
    upds = (
        fact0.filter((k % 97 == 0) & (k % 89 != 0))
        .withColumn("cents", F.col("cents") + F.expr("cents div 10"))
        .withColumn("op", F.lit("u"))
    )
    ins = (
        fact0.filter((k % 101 == 0) & (k % 89 != 0) & (k % 97 != 0))
        .select(
            (k + 600000000).alias("o_orderkey"),
            "o_custkey",
            (F.col("cents") + 50000).alias("cents"),
        )
        .withColumn("op", F.lit("c"))
    )
    changes = dels.unionByName(upds).unionByName(ins)
    view1 = incremental_join_apply(view0, changes, dim, "o_orderkey", "o_custkey")
    return (
        view1.groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("cents").cast("decimal(38,0)")).cast("double") / 100, 2
            ).alias("revenue"),
        )
        .orderBy("nation")
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
