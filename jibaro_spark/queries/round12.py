"""Round-12 declared queries — parametric ANOVA, paired-classifier
testing, graph structure metrics, HITS, and per-document keywording.

Seven families:

* ``q_anova_f`` — one-way parametric ANOVA (price cents across order
  priorities): per-group integer sufficient statistics, between/within
  sums of squares from ROUND(·,6)-decimal addends so both engines sum
  identical values, F on each group row.
* ``q_mcnemar`` — McNemar's paired test per source: two fully-integer
  English heuristics (contains " the "; letter-e frequency ≥ 8%)
  scored against the lang label; the test needs only the two
  discordant cell counts.
* ``q_degree_assortativity`` — Pearson correlation of endpoint
  degrees over the directed edge list of the supplier co-purchase
  graph (mean-relative threshold, as q_kcore_peel); exact integer
  moments.
* ``q_modularity`` — Newman modularity of the nation partition on the
  same graph: per-nation within-edge and degree-mass terms, rounded
  addends decimal-summed into the shared Q.
* ``q_local_clustering`` — per-supplier local clustering coefficient:
  neighbor-pair join + edge semi-join.  The pair stage is
  neighborhood-density-bounded (same caveat class as the geo radius
  join); on heavy-tailed graphs at 100 TB use degree-ordered
  orientation to cap it — documented, not needed for the
  supplier²-bounded graph here.
* ``q_hits_scores`` — two exact HITS iterations on the
  customer–supplier bipartite graph with L1 normalization and
  round(·,10)-decimal scores; top-20 authorities.
* ``q_doc_keywords`` — top-3 TF-IDF keywords per document: integer
  tf, round(ln(N/df),10)-decimal idf, exact decimal scores ranked
  under a (doc-keyed) window.

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.queries.registry import declare, load_tables

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
# Shared supplier co-purchase graph (same construction as
# q_kcore_peel: adjacent iff co-appearing in an order ≥
# ceil(1.3 × mean pair count) times).

_CO_SQL = """
co AS (
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS cnt
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
), st AS (
  SELECT CEIL(1.3 * (SUM(cnt) / COUNT(*))) AS thr FROM co
), e0 AS (
  SELECT u, v FROM co, st WHERE cnt >= thr
), s0 AS (
  SELECT u AS src, v AS dst FROM e0 UNION SELECT v, u FROM e0
), dg AS (
  SELECT src, COUNT(*) AS deg FROM s0 GROUP BY src
)"""


def _co_edges(spark: SparkSession, sf_dir: str):
    """(symmetric edge DF [src, dst], degree DF [src, deg])."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("v"))
    co = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    st = co.agg(F.ceil(1.3 * (F.sum("cnt") / F.count(F.lit(1)))).alias("thr"))
    e0 = co.crossJoin(F.broadcast(st)).filter(F.col("cnt") >= F.col("thr"))
    s0 = (
        e0.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .union(e0.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    )
    # Pin the symmetric edge list and the degree table (r12, guide
    # §2.4): every consumer (assortativity's two degree joins,
    # modularity's within/m2 branches, local-clustering's wedge
    # SELF-join) re-planned the full lineitem co-purchase fan-out join
    # underneath — 48-66 parquet scans / 82-112 Exchange nodes for 1-2
    # logical tables, and the wedge self-join paid the fan-out twice
    # per pass (q_local_clustering measured 14.5 s at sf0.1, the
    # slowest query in the engine).  Lazy, like the q_hits_scores edge
    # pin: the first consumer's job materializes the blocks, the rest
    # read them (executor-pinned, non-reliable storage — acceptable
    # for a single-query lifetime).  dg re-derives from the PINNED s0
    # so its own materialization is one cheap shuffle over cached
    # blocks.  At 100 TB the edge list is the object every pass
    # iterates; storing it once beats re-running the order-fan-out
    # join 3-6×.
    s0 = s0.localCheckpoint(eager=False)
    dg = s0.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return s0, dg.localCheckpoint(eager=False)


QDA_ORACLE = f"""
WITH {_CO_SQL}, ed AS (
  SELECT CAST(da.deg AS HUGEINT) AS x, CAST(db.deg AS HUGEINT) AS y
  FROM s0 JOIN dg da ON s0.src = da.src JOIN dg db ON s0.dst = db.src
), m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM ed
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS assortativity
FROM m
"""


@declare(
    "q_degree_assortativity",
    oracle=QDA_ORACLE,
    description="Degree assortativity of the supplier co-purchase graph: Pearson over endpoint degrees of the directed edge list, exact integer moments (graph [ext])",
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    s0, dg = _co_edges(spark, sf_dir)
    ed = (
        s0.join(dg.withColumnRenamed("src", "__a"), s0["src"] == F.col("__a"))
        .withColumnRenamed("deg", "x")
        .drop("__a")
        .join(
            dg.withColumnRenamed("src", "__b").withColumnRenamed("deg", "y"),
            s0["dst"] == F.col("__b"),
        )
        .select("x", "y")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = ed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x") * F.col("x")).alias("sxx"),
        F.sum(d("y") * F.col("y")).alias("syy"),
        F.sum(d("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    deny = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.round(num / (denx * deny), 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Newman modularity of the nation partition on the supplier
# co-purchase graph ([ext] graph — the cluster-quality metric for the
# CC/label-propagation wing): Q = Σ_c [e_c/m − (d_c/2m)²] over
# communities c.  Everything is integer until the per-community
# ROUND(·,10) terms, which decimal-sum into the shared Q.

QMO_ORACLE = f"""
WITH {_CO_SQL}, sn AS (
  SELECT s_suppkey, s_nationkey FROM supplier
), nations AS (
  SELECT s_nationkey AS nation FROM sn GROUP BY 1
), m AS (
  SELECT COUNT(*) AS m2 FROM s0
), within AS (
  SELECT na.s_nationkey AS nation, COUNT(*) AS w2
  FROM s0 JOIN sn na ON s0.src = na.s_suppkey
          JOIN sn nb ON s0.dst = nb.s_suppkey
  WHERE na.s_nationkey = nb.s_nationkey
  GROUP BY 1
), dmass AS (
  SELECT sn.s_nationkey AS nation, SUM(dg.deg) AS d2
  FROM dg JOIN sn ON dg.src = sn.s_suppkey
  GROUP BY 1
), terms AS (
  SELECT nn.nation, COALESCE(w.w2, 0) AS w2, COALESCE(d.d2, 0) AS d2, m.m2,
         CAST(CASE WHEN m.m2 > 0
              THEN ROUND(CAST(COALESCE(w.w2, 0) AS DOUBLE) / m.m2
                         - (CAST(COALESCE(d.d2, 0) AS DOUBLE) / m.m2)
                           * (CAST(COALESCE(d.d2, 0) AS DOUBLE) / m.m2), 10)
              ELSE 0 END AS DECIMAL(18,12)) AS term
  FROM nations nn LEFT JOIN dmass d ON nn.nation = d.nation
       LEFT JOIN within w ON nn.nation = w.nation, m
)
SELECT nation,
       CAST(w2 / 2 AS BIGINT) AS within_edges,
       CAST(d2 AS BIGINT) AS degree_mass,
       ROUND(CAST(term AS DOUBLE), 6) AS term,
       ROUND(CAST(SUM(term) OVER () AS DOUBLE), 6) AS modularity
FROM terms ORDER BY nation
"""


@declare(
    "q_modularity",
    oracle=QMO_ORACLE,
    description="Newman modularity of the nation partition on the supplier co-purchase graph — integer edge/degree masses, rounded per-community terms decimal-summed into Q (graph [ext])",
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    s0, dg = _co_edges(spark, sf_dir)
    sup = load_tables(spark, sf_dir, "supplier")["supplier"].select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("nk")
    )
    nations = sup.groupBy(F.col("nk").alias("nation")).agg(F.lit(1).alias("__one")).drop("__one")
    m2df = s0.agg(F.count(F.lit(1)).alias("m2"))
    within = (
        s0.join(F.broadcast(sup.withColumnRenamed("sk", "__sa")), s0["src"] == F.col("__sa"))
        .withColumnRenamed("nk", "na")
        .join(
            F.broadcast(
                sup.withColumnRenamed("sk", "__sb").withColumnRenamed("nk", "nb")
            ),
            s0["dst"] == F.col("__sb"),
        )
        .filter(F.col("na") == F.col("nb"))
        .groupBy(F.col("na").alias("nation"))
        .agg(F.count(F.lit(1)).alias("w2"))
    )
    dmass = (
        dg.join(F.broadcast(sup), dg["src"] == sup["sk"])
        .groupBy(F.col("nk").alias("nation"))
        .agg(F.sum("deg").alias("d2"))
    )
    terms = (
        nations.join(dmass, "nation", "left")
        .join(within, "nation", "left")
        .withColumn("w2", F.coalesce(F.col("w2"), F.lit(0)))
        .withColumn("d2", F.coalesce(F.col("d2"), F.lit(0)))
        .crossJoin(F.broadcast(m2df))
        .withColumn(
            "term",
            F.when(
                F.col("m2") > 0,
                F.round(
                    F.col("w2").cast("double") / F.col("m2")
                    - (F.col("d2").cast("double") / F.col("m2"))
                    * (F.col("d2").cast("double") / F.col("m2")),
                    10,
                ),
            )
            .otherwise(F.lit(0))
            .cast("decimal(18,12)"),
        )
    )
    return terms.select(
        "nation",
        F.expr("w2 div 2").cast("long").alias("within_edges"),
        F.col("d2").cast("long").alias("degree_mass"),
        F.round(F.col("term").cast("double"), 6).alias("term"),
        F.round(
            F.sum("term").over(Window.partitionBy()).cast("double"), 6
        ).alias("modularity"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Per-node local clustering coefficient on the supplier co-purchase
# graph ([ext] graph — the node-local companion of the global
# q_triangle_count).  Per-node triangle participation comes from the
# shared oriented node-iterator (triangle_count: degree-ordered
# orientation, each triangle enumerated once, corner explode) — the
# r12 rewrite of the original unoriented center-wedge semi-join,
# which enumerated Σ deg² wedges and each triangle three times.  The
# oracle keeps the wedge/semi-join formulation: COUNT of closed
# neighbor pairs per center ≡ triangles containing the center.

QLC_ORACLE = f"""
WITH {_CO_SQL}, wedge AS (
  SELECT a.src AS ctr, a.dst AS n1, b.dst AS n2
  FROM s0 a JOIN s0 b ON a.src = b.src AND a.dst < b.dst
), closed AS (
  SELECT w.ctr, COUNT(*) AS tri
  FROM wedge w JOIN e0 e ON w.n1 = e.u AND w.n2 = e.v
  GROUP BY w.ctr
)
SELECT s.s_suppkey AS suppkey,
       CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
       CAST(COALESCE(c.tri, 0) AS BIGINT) AS triangles,
       CASE WHEN COALESCE(d.deg, 0) >= 2
            THEN ROUND(2.0 * COALESCE(c.tri, 0) / (d.deg * (d.deg - 1)), 6)
            ELSE 0.0 END AS lcc
FROM supplier s LEFT JOIN dg d ON s.s_suppkey = d.src
     LEFT JOIN closed c ON s.s_suppkey = c.ctr
ORDER BY suppkey
"""


@declare(
    "q_local_clustering",
    oracle=QLC_ORACLE,
    description="Per-supplier local clustering coefficient: neighbor-pair wedges + edge semi-join closures; degree-ordered orientation documented as the heavy-tail scale path (graph [ext])",
)
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import triangle_count

    s0, dg = _co_edges(spark, sf_dir)
    # r12 (guide §1.2/§2.5): the hand-rolled UNORIENTED wedge
    # self-join enumerated every wedge at every center — Σ deg² ≈
    # 49.6M wedge rows at sf0.1 (25M after n1<n2), 12.5 s warm
    # (s0 2.7 + wedges 2.6 + closure 4.0) — and counted each triangle
    # three times, once per corner.  triangle_count() is the engine's
    # oriented node-iterator (Suri & Vassilvitskii): each triangle is
    # enumerated ONCE at its lowest-(deg,id) corner (Σ outdeg² =
    # O(m^1.5), the bound that survives power-law hubs), then the
    # corner explode credits all three nodes — the exact per-node
    # participation counts this query's semi-join form computed, with
    # ~4× fewer wedge rows on this graph and the scale path the old
    # docstring could only recommend.
    closed = triangle_count(s0)
    sup = load_tables(spark, sf_dir, "supplier")["supplier"].select(
        F.col("s_suppkey").alias("suppkey")
    )
    return (
        sup.join(dg.withColumnRenamed("src", "suppkey"), "suppkey", "left")
        .join(
            closed.select(
                F.col("node").alias("suppkey"), F.col("n_triangles").alias("tri")
            ),
            "suppkey",
            "left",
        )
        .withColumn("deg", F.coalesce(F.col("deg"), F.lit(0)))
        .withColumn("tri", F.coalesce(F.col("tri"), F.lit(0)))
        .select(
            "suppkey",
            F.col("deg").cast("long").alias("deg"),
            F.col("tri").cast("long").alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.col("tri") / (F.col("deg") * (F.col("deg") - 1)), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
        .orderBy("suppkey")
    )


# ---------------------------------------------------------------------------
# Two HITS iterations on the customer–supplier bipartite graph ([ext]
# graph — hubs/authorities where PageRank's single score conflates the
# two roles).  Hubs = customers, authorities = suppliers.  L1
# normalization with ROUND(·,10)-decimal scores keeps every
# accumulation exact; the two normalization scalars per iteration are
# 1-row broadcasts.  Output: top-20 authorities (score desc, key asc).

QHS_ORACLE = """
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), a1 AS (
  SELECT s, COUNT(*) AS a1 FROM e GROUP BY s
), t1 AS (
  SELECT SUM(a1) AS z FROM a1
), a1n AS (
  SELECT s, CAST(ROUND(CAST(a1 AS DOUBLE) / z, 10) AS DECIMAL(18,12)) AS an
  FROM a1, t1
), h1 AS (
  SELECT e.c, SUM(an) AS h1 FROM e JOIN a1n ON e.s = a1n.s GROUP BY e.c
), t2 AS (
  SELECT SUM(h1) AS z FROM h1
), h1n AS (
  SELECT c, CAST(ROUND(CAST(h1 AS DOUBLE) / CAST(z AS DOUBLE), 10)
                 AS DECIMAL(18,12)) AS hn
  FROM h1, t2
), a2 AS (
  SELECT e.s, SUM(hn) AS a2 FROM e JOIN h1n ON e.c = h1n.c GROUP BY e.s
), t3 AS (
  SELECT SUM(a2) AS z FROM a2
)
SELECT s AS suppkey,
       ROUND(CAST(a2 AS DOUBLE) / CAST(z AS DOUBLE), 6) AS authority
FROM a2, t3
ORDER BY authority DESC, suppkey
LIMIT 20
"""


@declare(
    "q_hits_scores",
    oracle=QHS_ORACLE,
    description="Two exact HITS iterations (L1-normalized, round(.,10)-decimal scores) on the customer-supplier bipartite graph; top-20 authorities (graph [ext])",
)
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    e = (
        t["orders"]
        .join(t["lineitem"], t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        # pin the edge list: THREE consumers (a1 groupBy, the h1 and
        # a2 joins) otherwise re-execute the orders⋈lineitem join +
        # distinct per consumer — only its exchanges get reused (the
        # branch-pinning discipline; lazy, so the first action
        # materializes it)
        .localCheckpoint(eager=False)
    )
    a1 = e.groupBy("s").agg(F.count(F.lit(1)).alias("a1"))
    t1 = a1.agg(F.sum("a1").alias("z"))
    a1n = a1.crossJoin(F.broadcast(t1)).select(
        "s",
        F.round(F.col("a1").cast("double") / F.col("z"), 10)
        .cast("decimal(18,12)")
        .alias("an"),
    )
    h1 = e.join(a1n, "s").groupBy("c").agg(F.sum("an").alias("h1"))
    t2 = h1.agg(F.sum("h1").alias("z"))
    h1n = h1.crossJoin(F.broadcast(t2)).select(
        "c",
        F.round(F.col("h1").cast("double") / F.col("z").cast("double"), 10)
        .cast("decimal(18,12)")
        .alias("hn"),
    )
    a2 = e.join(h1n, "c").groupBy("s").agg(F.sum("hn").alias("a2"))
    t3 = a2.agg(F.sum("a2").alias("z"))
    return (
        a2.crossJoin(F.broadcast(t3))
        .select(
            F.col("s").alias("suppkey"),
            F.round(F.col("a2").cast("double") / F.col("z").cast("double"), 6).alias(
                "authority"
            ),
        )
        .orderBy(F.col("authority").desc(), "suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Top-3 TF-IDF keywords per document ([ext] text analysis — the
# per-document companion of the corpus-level BM25/Zipf machinery).
# tf is an integer count; idf = ROUND(ln(N/df), 10) is a decimal
# scalar per token; scores tf·idf are exact decimals so the
# (score desc, token asc) ranking is engine-independent.  The rank
# window partitions by doc_id — vocabulary-bounded per doc, never
# corpus-wide.

QDK_ORACLE = """
WITH toks AS (
  SELECT doc_id, t AS tok, COUNT(*) AS tf
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z]+')) AS u(t)
  WHERE length(t) >= 3
  GROUP BY doc_id, t
), n AS (
  SELECT COUNT(*) AS nd FROM documents
), df AS (
  SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
), idf AS (
  SELECT tok, CAST(ROUND(LN(CAST(n.nd AS DOUBLE) / df.df), 10)
                   AS DECIMAL(18,12)) AS idf
  FROM df, n
), scored AS (
  SELECT t.doc_id, t.tok,
         CAST(t.tf AS DECIMAL(18,0)) * i.idf AS score
  FROM toks t JOIN idf i ON t.tok = i.tok
), ranked AS (
  SELECT doc_id, tok, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok,
       ROUND(CAST(score AS DOUBLE), 6) AS score
FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk
"""


@declare(
    "q_doc_keywords",
    oracle=QDK_ORACLE,
    description="Top-3 TF-IDF keywords per document: integer tf, round(ln(N/df),10)-decimal idf, exact decimal ranking under a doc-keyed window (text [ext])",
)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
        )
        .filter(F.length("tok") >= 3)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = df.crossJoin(F.broadcast(nd)).select(
        "tok",
        F.round(F.log(F.col("nd").cast("double") / F.col("df")), 10)
        .cast("decimal(18,12)")
        .alias("idf"),
    )
    scored = toks.join(idf, "tok").select(
        "doc_id",
        "tok",
        (F.col("tf").cast("decimal(18,0)") * F.col("idf")).alias("score"),
    )
    rk_w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            F.col("rk").cast("long").alias("rk"),
            "tok",
            F.round(F.col("score").cast("double"), 6).alias("score"),
        )
        .orderBy("doc_id", "rk")
    )
