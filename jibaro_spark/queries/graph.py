"""Graph declared queries: PageRank, HITS, BFS/SSSP, connected
components, k-core, triangles and clustering, modularity, centrality,
MST, label propagation and co-purchase graphs.  Also holds the staged
DuckDB twins of oracles that DuckDB re-inlines super-linearly
(``STAGED_ORACLES``).

Cross-engine conventions follow ``queries/registry.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.operators.graph import triangle_count
from jibaro_spark.operators.util import local_frame
from jibaro_spark.queries.registry import declare, load_tables


# Fixed-iteration weighted PageRank over the nation trade graph
# (customer nation → supplier nation, edge weight = lineitem count).
# The iterative operator (graph.pagerank) rounds every contribution to
# 12 decimals and accumulates in DECIMAL, so each iterate is exactly
# reproducible — the oracle below UNROLLS the same three iterations in
# SQL and the final rank vector hash-matches.  Teleport/damping
# constants are embedded via repr() so both engines parse the same
# doubles (1.0-0.85 != 0.15 in binary).
_PR_D = 0.85
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    teleport, damp = repr(1.0 - _PR_D), repr(_PR_D)
    cte = [
        """e AS (
  SELECT n1.n_name AS src, n2.n_name AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  GROUP BY 1, 2
)""",
        "nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst AS node FROM e)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "es AS (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS share FROM e)",
        "pr0 AS (SELECT node, CAST(round(1.0 / nn.n, 12) AS DECIMAL(28,12)) AS pr FROM nodes, nn)",
    ]
    for k in range(1, _PR_ITERS + 1):
        cte.append(
            f"""c{k} AS (
  SELECT es.dst AS node, CAST(round(CAST(p.pr AS DOUBLE) * es.share, 12) AS DECIMAL(28,12)) AS c
  FROM es JOIN pr{k - 1} p ON es.src = p.node
)"""
        )
        cte.append(
            f"""pr{k} AS (
  SELECT nodes.node,
         CAST(round({teleport} / nn.n + {damp} * CAST(COALESCE(s.sc, 0) AS DOUBLE), 12) AS DECIMAL(28,12)) AS pr
  FROM nodes
  LEFT JOIN (SELECT node, SUM(c) AS sc FROM c{k} GROUP BY node) s ON nodes.node = s.node, nn
)"""
        )
    return (
        "WITH " + ",\n".join(cte) + f"""
SELECT node AS nation, CAST(pr AS DOUBLE) AS pagerank
FROM pr{_PR_ITERS}
ORDER BY pagerank DESC, nation"""
    )


@declare(
    "q_pagerank_nations",
    oracle=_pagerank_oracle(),
    description="weighted PageRank (3 fixed iterations, decimal-exact accumulation) on the nation trade graph — iterative algorithm with an unrolled-SQL oracle",
)
def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import pagerank

    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    edges = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # broadcast_edges: the aggregated nation graph is ≤ 625 edges at any
    # SF — the dimension-sized case the flag exists for.
    pr = pagerank(
        edges, src="src", dst="dst", weight="w",
        iterations=_PR_ITERS, damping=_PR_D, broadcast_edges=True,
    )
    return pr.select(
        F.col("node").alias("nation"), F.col("pr").cast("double").alias("pagerank")
    ).orderBy(F.col("pagerank").desc(), "nation")


# ---------------------------------------------------------------------------
# Triangle counting over the supplier co-supply graph (suppliers
# linked when both ship heavy lots of the same part).  The oracle is
# the same oriented 3-way join in SQL; the Spark operator is
# graph.triangle_count (Suri–Vassilvitskii node-iterator).
QTRI_ORACLE = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
  FROM lineitem WHERE l_quantity >= 45
), e AS (
  SELECT DISTINCT a.sk AS a, b.sk AS b
  FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
), tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
), nodes AS (
  SELECT a AS node FROM e UNION SELECT b AS node FROM e
), cnt AS (
  SELECT node, COUNT(*) AS n FROM corners GROUP BY node
)
SELECT nodes.node AS supplier,
       CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN cnt USING (node)
ORDER BY n_triangles DESC, supplier
LIMIT 20
"""


@declare(
    "q_triangle_count",
    oracle=QTRI_ORACLE,
    description="per-node triangle counts on the supplier co-supply graph (graph analytics [ext])",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    ps = (
        li.filter(F.col("l_quantity") >= 45)
        .select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    pairs = (
        ps.alias("x")
        .join(ps.alias("y"), "pk")
        .filter(F.col("x.sk") < F.col("y.sk"))
        .select(F.col("x.sk").alias("src"), F.col("y.sk").alias("dst"))
    )
    return (
        triangle_count(pairs)
        .select(F.col("node").alias("supplier"), "n_triangles")
        .orderBy(F.col("n_triangles").desc(), "supplier")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Distributed BFS (level-synchronous) over the bipartite
# customer–supplier trade graph: who is within N hops of the smallest
# active customer?  Spark side runs jibaro_spark.operators.graph.
# bfs_distances (frontier joins, hash-partitioned on node id); the
# oracle recomputes min-hop distance with a recursive CTE.  At 100 TB
# the per-level cost is one co-partitioned join of the frontier ring
# against the edge list — no broadcast of the graph, no path
# enumeration (the (node, depth) UNION-dedup in the oracle is the
# SQL-side equivalent bound).
_BFS_HOPS = 4

QBFS_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), ud AS (
  SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e
), reach(node, d) AS (
  SELECT 'c:' || CAST((SELECT MIN(o_custkey) FROM orders) AS VARCHAR), 0
  UNION
  SELECT ud.dst, reach.d + 1
  FROM reach JOIN ud ON ud.src = reach.node
  WHERE reach.d < {_BFS_HOPS}
)
SELECT node, CAST(MIN(d) AS BIGINT) AS dist
FROM reach GROUP BY node ORDER BY node
"""


@declare(
    "q_bfs_hops",
    oracle=QBFS_ORACLE,
    description="level-synchronous distributed BFS over the customer–supplier graph vs recursive-CTE oracle (graph [ext])",
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import bfs_distances

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    # BFS runs on NUMERIC node ids (customer k → k, supplier k →
    # −k−1): the per-level shuffles then hash/compare 8-byte longs
    # instead of strings; the 'c:'/'s:' rendering the oracle uses is
    # applied to the RESULT rows only (≈ nodes), never to the edge
    # list (≈ |distinct pairs| rows, 40× larger here)
    edges = (
        t["orders"]
        .join(t["lineitem"], t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (-F.col("l_suppkey").cast("long") - 1).alias("dst"),
        )
        .distinct()
    )
    # the BFS seed is a query parameter: one bounded 1-row aggregate
    root = t["orders"].agg(F.min("o_custkey")).first()[0]
    sources = local_frame(spark, [(int(root),)], "node long")
    reached = bfs_distances(edges, sources, max_hops=_BFS_HOPS)
    label = F.when(
        F.col("node") >= 0, F.concat(F.lit("c:"), F.col("node").cast("string"))
    ).otherwise(
        F.concat(F.lit("s:"), (-F.col("node") - 1).cast("string"))
    )
    return reached.select(label.alias("node"), "dist").orderBy("node")


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: part pairs bought together in ≥2
# orders.  Classic two-phase frequent-pair mining with the a-priori
# prune built in: items below the support floor are filtered BEFORE
# pair generation (a pair can only reach support s if both items
# appear in ≥ s baskets), so the quadratic per-basket pair explode
# runs on the frequent-item subset only.  Candidates come from the
# basket-keyed self-join (inverted index on the order key) — never a
# part × part cross product.
_BASKET_MIN_SUPPORT = 2

QBASKET_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), freq AS (
  SELECT l_partkey FROM items GROUP BY l_partkey
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
), fi AS (
  SELECT items.l_orderkey, items.l_partkey FROM items JOIN freq USING (l_partkey)
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM fi a JOIN fi b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
)
SELECT part_a, part_b, support
FROM pairs ORDER BY support DESC, part_a, part_b
"""


@declare(
    "q_basket_pairs",
    oracle=QBASKET_ORACLE,
    description="frequent co-purchased part pairs with a-priori item pruning (J5/A9 family [ext])",
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= _BASKET_MIN_SUPPORT)
        .select("l_partkey")
    )
    fi = items.join(freq, "l_partkey").localCheckpoint(eager=True)
    a = fi.alias("a")
    b = fi.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
        .orderBy(F.desc("support"), "part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# Association-rule strength on the frequent-pair table: lift =
# P(a,b) / (P(a)·P(b)) with exact integer counts scaled by the basket
# count — rendered as lift_x1000 (integer-floored) plus the exact
# numerator/denominator counts, so the hash never touches an
# order-dependent float sum.  Same a-priori pruned join as
# q_basket_pairs; item supports are a broadcast dimension.
QLIFT_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
), nb AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM items
), freq AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS item_n FROM items
  GROUP BY l_partkey HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
), fi AS (
  SELECT items.l_orderkey, items.l_partkey FROM items
  JOIN freq USING (l_partkey)
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM fi a JOIN fi b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 3
)
SELECT part_a, part_b, support,
       fa.item_n AS n_a, fb.item_n AS n_b,
       CAST((CAST(support AS HUGEINT) * nb.n_baskets * 1000)
            // (CAST(fa.item_n AS HUGEINT) * fb.item_n)
            AS BIGINT) AS lift_x1000
FROM pairs
JOIN freq fa ON fa.l_partkey = part_a
JOIN freq fb ON fb.l_partkey = part_b
CROSS JOIN nb
ORDER BY lift_x1000 DESC, part_a, part_b
"""


@declare(
    "q_basket_lift",
    oracle=QLIFT_ORACLE,
    description="association-rule lift for co-purchase pairs (support>=3) in exact integer arithmetic (A9/J5 family [ext])",
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # NULL contract (relational fuzz sweep): a NULL basket/item is not
    # a market-basket member — and Spark's distinct().count() would
    # count the NULL basket where SQL COUNT(DISTINCT) skips it
    lineitem = lineitem.filter(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    )
    items = lineitem.select("l_orderkey", "l_partkey").distinct().localCheckpoint(
        eager=True
    )
    n_baskets = items.select("l_orderkey").distinct().count()
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("item_n"))
        .filter(F.col("item_n") >= _BASKET_MIN_SUPPORT)
    )
    fi = items.join(freq.select("l_partkey"), "l_partkey")
    a = fi.alias("a")
    b = fi.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 3)
    )
    fa = F.broadcast(
        freq.select(F.col("l_partkey").alias("part_a"), F.col("item_n").alias("n_a"))
    )
    fb = F.broadcast(
        freq.select(F.col("l_partkey").alias("part_b"), F.col("item_n").alias("n_b"))
    )
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .select(
            "part_a",
            "part_b",
            "support",
            "n_a",
            "n_b",
            # DECIMAL(38,0) products: BIGINT would wrap silently at
            # n_baskets ~1e8 with ANSI off, and wrap differently from
            # the oracle (ADVICE r5) — decimal keeps both engines exact
            F.expr(
                f"CAST(floor((CAST(support AS DECIMAL(38,0)) * {n_baskets}"
                f" * 1000) / (CAST(n_a AS DECIMAL(38,0)) * n_b)) AS BIGINT)"
            ).alias("lift_x1000"),
        )
        .orderBy(F.desc("lift_x1000"), "part_a", "part_b")
    )


# ---------------------------------------------------------------------------
# Degree distribution of the customer–supplier trade graph: how many
# nodes have each degree — the first thing to read off any graph
# before joining on it (skew planning: a power-law tail says salt the
# hot keys).  Two keyed aggregates; the output is #distinct-degrees
# rows.
QDEGREE_ORACLE = """
WITH e AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                  's:' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), ud AS (
  SELECT src AS node, dst AS nbr FROM e
  UNION ALL SELECT dst AS node, src AS nbr FROM e
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM ud GROUP BY node
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUBSTRING(MIN(node), 1, 1) AS VARCHAR) AS side_of_min_node
FROM deg GROUP BY degree ORDER BY degree
"""


@declare(
    "q_degree_distribution",
    oracle=QDEGREE_ORACLE,
    description="degree distribution of the trade graph — the skew-planning read before any graph join (graph [ext])",
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    e = (
        t["orders"]
        .join(t["lineitem"], t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    ud = e.select(F.col("src").alias("node")).unionAll(
        e.select(F.col("dst").alias("node"))
    )
    deg = ud.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.substring(F.min("node"), 1, 1).alias("side_of_min_node"),
        )
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Triangles in the CO-PURCHASE graph: basket mining composed with the
# graph operator — parts are linked when bought together in ≥2
# orders, and the per-part triangle count measures how clique-like a
# part's neighborhood is (community signal).  The bipartite trade
# graph has no triangles by construction; the pair projection does.
# Spark side: the a-priori pruned pair join feeds
# graph.triangle_count (degree-ordered orientation, O(m^1.5) wedge
# bound); the oracle enumerates oriented triangles with a 3-way
# self-join and unpivots corners.
QCOTRI_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), freq AS (
  SELECT l_partkey FROM items GROUP BY l_partkey
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
), fi AS (
  SELECT items.l_orderkey, items.l_partkey FROM items JOIN freq USING (l_partkey)
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM fi a JOIN fi b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
), nodes AS (
  SELECT u AS node FROM e UNION SELECT v FROM e
)
SELECT nodes.node,
       CAST(COALESCE(COUNT(corners.node), 0) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN corners ON corners.node = nodes.node
GROUP BY nodes.node
ORDER BY nodes.node
"""


@declare(
    "q_copurchase_triangles",
    oracle=QCOTRI_ORACLE,
    description="per-part triangle counts in the co-purchase pair graph — basket mining composed with the O(m^1.5) triangle operator (graph/J5 [ext])",
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import triangle_count

    lineitem = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= _BASKET_MIN_SUPPORT)
        .select("l_partkey")
    )
    fi = items.join(freq, "l_partkey").localCheckpoint(eager=True)
    a = fi.alias("a")
    b = fi.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("__s"))
        .filter(F.col("__s") >= _BASKET_MIN_SUPPORT)
        .select("src", "dst")
    )
    return (
        triangle_count(edges)
        .select("node", F.col("n_triangles").cast("long").alias("n_triangles"))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths over the nation trade graph
# (nations connected when any customer of one bought from a supplier
# of the other; deterministic integer weight (a+b)%9+1).  Spark side
# is graph.sssp — frontier-based distributed Bellman-Ford.  The
# oracle enumerates ALL bounded walk labels with a recursive CTE
# (UNION dedups (node,dist) labels; the 60 bound only truncates walks
# far past the true minima) and takes the per-node MIN — correct for
# any node whose true distance is <= 60, which a 25-node graph with
# max edge weight 9 satisfies with huge margin.
QSSSP_ORACLE = """
WITH RECURSIVE trade AS (
  SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
), edges AS (
  SELECT a AS src, b AS dst, (a + b) % 9 + 1 AS w FROM trade
  UNION ALL
  SELECT b AS src, a AS dst, (a + b) % 9 + 1 AS w FROM trade
), walk AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
  UNION
  SELECT CAST(e.dst AS BIGINT) AS node, w.dist + e.w AS dist
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist + e.w <= 60
)
SELECT node, MIN(dist) AS dist FROM walk GROUP BY node ORDER BY node
"""


@declare(
    "q_sssp_nations",
    oracle=QSSSP_ORACLE,
    description="weighted shortest paths from nation 0 over the trade graph — frontier Bellman-Ford (graph.sssp), bounded recursive-walk oracle (graph [ext])",
)
def q_sssp_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import sssp

    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier")
    trade = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b"))
        .distinct()
    )
    edges = trade.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        ((F.col("a") + F.col("b")) % 9 + 1).alias("weight"),
    )
    sources = spark.range(1).select(F.lit(0).cast("int").alias("node"))
    out = sssp(edges, sources, directed=False)
    return out.select(F.col("node").cast("long"), F.col("dist").cast("long")).orderBy(
        "node"
    )


# ---------------------------------------------------------------------------
# Bipartite label propagation, one round ([ext] semi-supervised
# labeling — the graph family's labeling member next to BFS / SSSP /
# PageRank / CC): each supplier takes the majority market segment of
# the DISTINCT customers it has served (lineitem → orders → customer),
# ties broken alphabetically.  Scale: two fact-keyed equi-joins, a
# distinct collapse to (supplier, customer, segment), and a
# supplier-keyed vote count + argmax window over ≤ 5 segment rows per
# supplier — never a per-supplier scan of the fact table.
QLP_ORACLE = """
WITH served AS (
  SELECT DISTINCT l.l_suppkey AS sk, c.c_custkey, c.c_mktsegment AS seg
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
), votes AS (
  SELECT sk, seg, CAST(COUNT(*) AS BIGINT) AS v
  FROM served GROUP BY 1, 2
), ranked AS (
  SELECT sk, seg, v,
         CAST(SUM(v) OVER (PARTITION BY sk) AS BIGINT) AS n_customers,
         ROW_NUMBER() OVER (PARTITION BY sk ORDER BY v DESC, seg) AS rk
  FROM votes
)
SELECT sk AS s_suppkey, seg AS propagated_segment, v AS votes, n_customers
FROM ranked WHERE rk = 1
ORDER BY s_suppkey
"""


@declare(
    "q_label_propagation",
    oracle=QLP_ORACLE,
    description="one-round bipartite label propagation: each supplier takes the majority market segment of its distinct served customers, alphabetical tie-break (graph labeling [ext])",
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer")
    served = (
        t["lineitem"]
        .select(F.col("l_suppkey").alias("sk"), "l_orderkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t["customer"].select("c_custkey", F.col("c_mktsegment").alias("seg")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("sk", "c_custkey", "seg")
        .distinct()
    )
    votes = served.groupBy("sk", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    sw = Window.partitionBy("sk")
    rk = Window.partitionBy("sk").orderBy(F.desc("v"), F.asc("seg"))
    return (
        votes.withColumn("n_customers", F.sum("v").over(sw).cast("long"))
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            F.col("sk").alias("s_suppkey"),
            F.col("seg").alias("propagated_segment"),
            F.col("v").alias("votes"),
            "n_customers",
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Fixed-round k-core peeling ([ext] graph, sibling of BFS/SSSP/label-
# propagation) on the supplier CO-PURCHASE graph: suppliers are
# adjacent when they co-appear in the same order at least
# ceil(1.3 × mean-pair-count) times (a data-relative threshold, so the
# graph stays non-degenerate across scale factors).  The node universe
# is ALL suppliers — isolated ones have degree 0 and peel in round 1.
# k=5 over 3 rounds produces a genuine cascade at sf0.01 (kills
# 22→4→4 with a 68-supplier core, measured).  Edge construction is
# linear (per-order supplier pairs, orders are small), the graph is
# supplier²-bounded, and each peel round is one degree agg + two keyed
# anti-joins.  The oracle unrolls the identical rounds.

_KC_K = 5
_KC_R = 3

QKC_ORACLE = f"""
WITH co AS (
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
), nodes AS (
  SELECT DISTINCT l_suppkey AS n FROM lineitem
), d1 AS (
  SELECT src, COUNT(*) AS deg FROM s0 GROUP BY src
), k1 AS (
  SELECT n FROM nodes LEFT JOIN d1 ON n = src
  WHERE COALESCE(deg, 0) < {_KC_K}
), s1 AS (
  SELECT src, dst FROM s0
  WHERE src NOT IN (SELECT n FROM k1) AND dst NOT IN (SELECT n FROM k1)
), a1 AS (
  SELECT n FROM nodes WHERE n NOT IN (SELECT n FROM k1)
), d2 AS (
  SELECT src, COUNT(*) AS deg FROM s1 GROUP BY src
), k2 AS (
  SELECT n FROM a1 LEFT JOIN d2 ON n = src
  WHERE COALESCE(deg, 0) < {_KC_K}
), s2 AS (
  SELECT src, dst FROM s1
  WHERE src NOT IN (SELECT n FROM k2) AND dst NOT IN (SELECT n FROM k2)
), a2 AS (
  SELECT n FROM a1 WHERE n NOT IN (SELECT n FROM k2)
), d3 AS (
  SELECT src, COUNT(*) AS deg FROM s2 GROUP BY src
), k3 AS (
  SELECT n FROM a2 LEFT JOIN d3 ON n = src
  WHERE COALESCE(deg, 0) < {_KC_K}
), s3 AS (
  SELECT src, dst FROM s2
  WHERE src NOT IN (SELECT n FROM k3) AND dst NOT IN (SELECT n FROM k3)
), a3 AS (
  SELECT n FROM a2 WHERE n NOT IN (SELECT n FROM k3)
), fin AS (
  SELECT src, COUNT(*) AS deg FROM s3 GROUP BY src
)
SELECT nodes.n AS suppkey,
       CAST(CASE WHEN nodes.n IN (SELECT n FROM k1) THEN 1
                 WHEN nodes.n IN (SELECT n FROM k2) THEN 2
                 WHEN nodes.n IN (SELECT n FROM k3) THEN 3
            END AS BIGINT) AS peeled_round,
       CAST(CASE WHEN nodes.n IN (SELECT n FROM a3)
                 THEN COALESCE(f.deg, 0) END AS BIGINT) AS deg
FROM nodes LEFT JOIN fin f ON nodes.n = f.src
ORDER BY suppkey
"""


@declare(
    "q_kcore_peel",
    oracle=QKC_ORACLE,
    description=f"Fixed-round k-core peeling (k={_KC_K}, {_KC_R} rounds) on the supplier co-purchase graph (mean-relative edge threshold, isolated nodes peel at degree 0) — oracle unrolls the rounds (graph [ext])",
)
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import kcore_peel

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("v"))
    co = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    st = co.agg(
        F.ceil(1.3 * (F.sum("cnt") / F.count(F.lit(1)))).alias("thr")
    )
    edges = co.crossJoin(F.broadcast(st)).filter(F.col("cnt") >= F.col("thr"))
    suppliers = li.select(F.col("l_suppkey").alias("n")).distinct()
    res = kcore_peel(edges, k=_KC_K, rounds=_KC_R, src="u", dst="v", nodes=suppliers)
    return res.select(
        F.col("node").cast("long").alias("suppkey"), "peeled_round", "deg"
    ).orderBy("suppkey")


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
# Harmonic closeness centrality of nations on the undirected trade
# graph, via per-source BFS (every nation is a landmark — the full
# exact form; at corpus scale the same operator runs over a sampled
# landmark set).  The oracle enumerates bounded hop labels with a
# recursive CTE and takes per-(source, node) minima — exact for a
# 25-node graph with diameter << 25.

QCLOSE_ORACLE = """
WITH RECURSIVE trade AS (
  SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
), edges AS (
  SELECT a AS src, b AS dst FROM trade
  UNION
  SELECT b AS src, a AS dst FROM trade
), walk AS (
  SELECT CAST(n_nationkey AS BIGINT) AS source,
         CAST(n_nationkey AS BIGINT) AS node,
         CAST(0 AS BIGINT) AS dist
  FROM nation
  UNION
  SELECT w.source, CAST(e.dst AS BIGINT) AS node, w.dist + 1 AS dist
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist + 1 <= 25
), d AS (
  SELECT source, node, MIN(dist) AS dist FROM walk GROUP BY source, node
)
SELECT source AS nationkey,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
       ROUND(CAST(SUM(CASE WHEN dist > 0
                  THEN CAST(ROUND(1.0 / dist, 10) AS DECIMAL(18,12))
                  ELSE CAST(0 AS DECIMAL(18,12)) END) AS DOUBLE), 6)
         AS harmonic
FROM d
GROUP BY source
ORDER BY nationkey
"""


@declare(
    "q_closeness_centrality",
    oracle=QCLOSE_ORACLE,
    description="Harmonic closeness centrality of nations on the trade graph via per-source (landmark) level-synchronous BFS; rounded-addend decimal 1/d sums; recursive-CTE bounded-walk oracle (graph [ext])",
)
def q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import bfs_distances_per_source

    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    li, o, c, s, n = (
        t["lineitem"],
        t["orders"],
        t["customer"],
        t["supplier"],
        t["nation"],
    )
    trade = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .distinct()
    )
    sources = n.select(F.col("n_nationkey").cast("long"))
    d = bfs_distances_per_source(trade, sources, max_hops=25)
    inv = (
        F.when(
            F.col("dist") > 0, F.round(F.lit(1.0) / F.col("dist"), 10)
        )
        .otherwise(0.0)
        .cast("decimal(18,12)")
    )
    return (
        d.groupBy(F.col("source").alias("nationkey"))
        .agg(
            (F.count(F.lit(1)) - 1).cast("long").alias("n_reached"),
            F.round(F.sum(inv).cast("double"), 6).alias("harmonic"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Directed-graph reciprocity of the nation trade graph.

QRECIP_ORACLE = """
WITH e AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
), nonself AS (
  SELECT src, dst FROM e WHERE src <> dst
), recip AS (
  SELECT a.src, a.dst FROM nonself a
  JOIN nonself b ON b.src = a.dst AND b.dst = a.src
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM e WHERE src = dst) AS BIGINT) AS n_self,
       CAST((SELECT COUNT(*) FROM nonself) AS BIGINT) AS n_directed,
       CAST((SELECT COUNT(*) FROM recip) AS BIGINT) AS n_reciprocated,
       ROUND(CAST((SELECT COUNT(*) FROM recip) AS DOUBLE)
             / (SELECT COUNT(*) FROM nonself), 6) AS reciprocity
"""


@declare(
    "q_graph_reciprocity",
    oracle=QRECIP_ORACLE,
    description="Reciprocity of the directed nation trade graph (share of non-self edges whose reverse exists) + self-trade count — edge-set algebra on nation²-bounded rows (graph [ext])",
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier")
    li, o, c, s = t["lineitem"], t["orders"], t["customer"], t["supplier"]
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .distinct()
    )
    e = e.localCheckpoint(eager=True)  # three consumers below
    nonself = e.filter(F.col("src") != F.col("dst"))
    rev = nonself.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = nonself.join(rev, ["src", "dst"], "left_semi")
    stats_e = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum((F.col("src") == F.col("dst")).cast("int"))
        .cast("long")
        .alias("n_self"),
    )
    stats_ns = nonself.agg(F.count(F.lit(1)).cast("long").alias("n_directed"))
    stats_r = recip.agg(F.count(F.lit(1)).cast("long").alias("n_reciprocated"))
    return (
        stats_e.crossJoin(F.broadcast(stats_ns))
        .crossJoin(F.broadcast(stats_r))
        .select(
            "n_edges",
            "n_self",
            "n_directed",
            "n_reciprocated",
            F.round(
                F.col("n_reciprocated").cast("double") / F.col("n_directed"), 6
            ).alias("reciprocity"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed minimum spanning tree (Borůvka) on the weighted nation
# trade graph.  The oracle does NOT replay Borůvka: under the
# (w, a, b) total order the MST is unique, so it applies the CYCLE
# PROPERTY — an edge belongs to the MST iff its endpoints are not
# connected using strictly lighter edges — with a bounded
# (edge × node) recursive reachability walk.  Algorithm-independent
# agreement is the strongest possible check.

QMST_ORACLE = """
WITH RECURSIVE trade AS (
  SELECT DISTINCT LEAST(c.c_nationkey, s.s_nationkey) AS a,
         GREATEST(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
), edges AS (
  SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
         CAST((a + b) % 9 + 1 AS BIGINT) AS w,
         ROW_NUMBER() OVER (ORDER BY (a + b) % 9 + 1, a, b) AS id
  FROM trade
), walk AS (
  SELECT e.id, e.a AS node FROM edges e
  UNION
  SELECT wk.id, CASE WHEN f.a = wk.node THEN f.b ELSE f.a END AS node
  FROM walk wk JOIN edges f
    ON (f.a = wk.node OR f.b = wk.node) AND f.id < wk.id
)
SELECT e.a AS src, e.b AS dst, e.w
FROM edges e
WHERE NOT EXISTS (SELECT 1 FROM walk x WHERE x.id = e.id AND x.node = e.b)
ORDER BY src, dst
"""


@declare(
    "q_boruvka_mst",
    oracle=QMST_ORACLE,
    description="Distributed minimum spanning tree (Borůvka, O(log n) simultaneous component contractions) of the weighted nation trade graph; tie-broken total order makes the MST unique, and the oracle verifies it algorithm-independently via the cycle property (graph [ext])",
)
def q_boruvka_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import boruvka_mst

    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier")
    li, o, c, s = t["lineitem"], t["orders"], t["customer"], t["supplier"]
    trade = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").cast("long").alias("src"),
            F.greatest("c_nationkey", "s_nationkey").cast("long").alias("dst"),
        )
        .distinct()
        .withColumn(
            "w", ((F.col("src") + F.col("dst")) % 9 + 1).cast("long")
        )
    )
    mst = boruvka_mst(trade, "src", "dst", "w")
    return mst.orderBy("src", "dst")


_TRADE_SQL = """
  SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
"""

QDIAM_ORACLE = f"""
WITH RECURSIVE trade AS ({_TRADE_SQL}),
edges AS (
  SELECT a AS src, b AS dst FROM trade
  UNION
  SELECT b AS src, a AS dst FROM trade
), nodes AS (
  SELECT DISTINCT CAST(src AS BIGINT) AS n FROM edges
), walk AS (
  SELECT n AS source, n AS node, CAST(0 AS BIGINT) AS dist FROM nodes
  UNION
  SELECT w.source, CAST(e.dst AS BIGINT), w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist + 1 <= 25
), d AS (
  SELECT source, node, MIN(dist) AS dist FROM walk GROUP BY source, node
), ecc AS (
  SELECT source, CAST(MAX(dist) AS BIGINT) AS eccentricity FROM d
  GROUP BY source
), gstats AS (
  SELECT CAST(MAX(eccentricity) AS BIGINT) AS diameter,
         CAST(MIN(eccentricity) AS BIGINT) AS radius
  FROM ecc
), eff AS (
  SELECT CAST(MIN(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT) THEN dist END)
         AS BIGINT) AS effective_diameter
  FROM (
    SELECT dist, SUM(c) OVER (ORDER BY dist) AS cum, SUM(c) OVER () AS n
    FROM (SELECT dist, COUNT(*) AS c FROM d WHERE dist > 0 GROUP BY dist)
  )
)
SELECT e.source AS nationkey, e.eccentricity,
       g.diameter, g.radius, f.effective_diameter
FROM ecc e CROSS JOIN gstats g CROSS JOIN eff f
ORDER BY nationkey
"""


@declare(
    "q_graph_diameter",
    oracle=QDIAM_ORACLE,
    description="Exact eccentricities, diameter, radius, and effective (p90) diameter of the nation trade graph via exhaustive per-source BFS on the nation-bounded node set (graph distance summaries [ext])",
)
def q_graph_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import bfs_distances_per_source

    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier")
    li, o, c, s = t["lineitem"], t["orders"], t["customer"], t["supplier"]
    trade = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .distinct()
    )
    trade = trade.localCheckpoint(eager=True)
    nodes = (
        trade.select(F.col("src").alias("n"))
        .union(trade.select(F.col("dst").alias("n")))
        .distinct()
    )
    d = bfs_distances_per_source(trade, nodes, max_hops=25)
    d = d.localCheckpoint(eager=True)  # ecc + distance ECDF share it
    ecc = d.groupBy(F.col("source").alias("nationkey")).agg(
        F.max("dist").cast("long").alias("eccentricity")
    )
    glob = ecc.agg(
        F.max("eccentricity").cast("long").alias("diameter"),
        F.min("eccentricity").cast("long").alias("radius"),
    )
    from pyspark.sql.window import Window

    cells = (
        d.filter(F.col("dist") > 0)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = cells.withColumn("cum", F.sum("c").over(wc)).withColumn(
        "n", F.sum("c").over(Window.partitionBy())
    )
    eff = ecdf.agg(
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(0.9) * F.col("n")).cast("long"),
                F.col("dist"),
            )
        )
        .cast("long")
        .alias("effective_diameter")
    )
    return (
        ecc.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(eff))
        .orderBy("nationkey")
    )


QPERC_ORACLE = (
    """
WITH RECURSIVE trade AS ("""
    + _TRADE_SQL
    + """),
wedges AS (
  SELECT LEAST(a, b) AS a, GREATEST(a, b) AS b,
         (LEAST(a, b) + GREATEST(a, b)) % 9 + 1 AS w
  FROM trade
  GROUP BY 1, 2, 3
), nodes AS (
  SELECT DISTINCT CAST(a AS BIGINT) AS n FROM wedges
  UNION
  SELECT DISTINCT CAST(b AS BIGINT) FROM wedges
), taus AS (SELECT unnest([3, 6, 9]) AS tau),
live AS (
  SELECT t.tau, CAST(e.a AS BIGINT) AS src, CAST(e.b AS BIGINT) AS dst
  FROM wedges e JOIN taus t ON e.w <= t.tau
  UNION ALL
  SELECT t.tau, CAST(e.b AS BIGINT), CAST(e.a AS BIGINT)
  FROM wedges e JOIN taus t ON e.w <= t.tau
), comp AS (
  SELECT t.tau, n.n AS node, n.n AS root FROM nodes n CROSS JOIN taus t
  UNION
  SELECT c.tau, l.dst AS node, c.root
  FROM comp c JOIN live l ON l.tau = c.tau AND l.src = c.node
), labels AS (
  SELECT tau, node, MIN(root) AS cluster FROM comp GROUP BY tau, node
), sizes AS (
  SELECT tau, cluster, CAST(COUNT(*) AS BIGINT) AS sz
  FROM labels GROUP BY tau, cluster
)
SELECT CAST(tau AS BIGINT) AS tau,
       CAST(COUNT(*) AS BIGINT) AS n_components,
       CAST(MAX(sz) AS BIGINT) AS giant_size,
       ROUND(CAST(MAX(sz) AS DOUBLE) / SUM(sz), 6) AS giant_share
FROM sizes GROUP BY tau ORDER BY tau
"""
)


@declare(
    "q_percolation_thresholds",
    oracle=QPERC_ORACLE,
    description="Bond-percolation sweep of the weighted trade graph (edges with w ≤ τ for τ ∈ {3,6,9}): connected components per threshold, component counts and giant-component share — the network-robustness curve (graph [ext])",
)
def q_percolation_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jibaro_spark.operators.graph import connected_components

    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier")
    li, o, c, s = t["lineitem"], t["orders"], t["customer"], t["supplier"]
    wedges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").cast("long").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").cast("long").alias("b"),
        )
        .distinct()
        .withColumn("w", (F.col("a") + F.col("b")) % 9 + 1)
    )
    wedges = wedges.localCheckpoint(eager=True)  # one CC pass per tau
    nodes = (
        wedges.select(F.col("a").alias("node"))
        .union(wedges.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out = None
    for tau in (3, 6, 9):
        live = wedges.filter(F.col("w") <= tau).select("a", "b")
        comp = connected_components(live, src="a", dst="b")
        labels = nodes.join(comp, "node", "left").select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("cluster")
        )
        sizes = labels.groupBy("cluster").agg(
            F.count(F.lit(1)).cast("long").alias("sz")
        )
        branch = sizes.agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("sz").cast("long").alias("giant_size"),
            F.round(F.max("sz").cast("double") / F.sum("sz"), 6).alias(
                "giant_share"
            ),
        ).select(F.lit(tau).cast("long").alias("tau"), "*")
        out = branch if out is None else out.unionByName(branch)
    return out.orderBy("tau")


# ---------------------------------------------------------------------------
# Staged DuckDB oracle twins for fuzz-probe use.  Some registered
# single-statement oracles chain multiply-referenced CTEs that DuckDB
# re-inlines super-linearly on mutated (densified) fixtures —
# evaluating stage r re-runs every earlier stage's join.  A staged twin
# materializes each stage as a temp table exactly once with
# byte-identical semantics (same ``NOT IN`` forms over the same row
# sets), making the probe hash-checkable end-to-end.  Registered driver
# oracles are untouched (they are fine at sf0.01).
def _kcore_staged_oracle() -> "list[str]":
    """Staged twin of ``q_kcore_peel``'s registered oracle.  The
    single-statement oracle chains each peel round's edge set through
    ``NOT IN`` subqueries; DuckDB re-inlines multiply-referenced CTEs
    there, so evaluating round r re-runs every earlier round's
    lineitem self-join — exponential re-evaluation that exhausted
    local disk on the r10 sf0.1 skew probe.  One temp table per peel
    round runs every stage EXACTLY ONCE."""
    stmts = [
        """CREATE OR REPLACE TEMP TABLE kc_co AS
  SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS cnt
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2""",
        """CREATE OR REPLACE TEMP TABLE kc_s0 AS
  WITH st AS (SELECT CEIL(1.3 * (SUM(cnt) / COUNT(*))) AS thr FROM kc_co),
  e0 AS (SELECT u, v FROM kc_co, st WHERE cnt >= thr)
  SELECT u AS src, v AS dst FROM e0 UNION SELECT v, u FROM e0""",
        """CREATE OR REPLACE TEMP TABLE kc_a0 AS
  SELECT DISTINCT l_suppkey AS n FROM lineitem""",
    ]
    for r in range(1, _KC_R + 1):
        stmts += [
            f"""CREATE OR REPLACE TEMP TABLE kc_k{r} AS
  SELECT n FROM kc_a{r-1} LEFT JOIN
    (SELECT src, COUNT(*) AS deg FROM kc_s{r-1} GROUP BY src) d ON n = d.src
  WHERE COALESCE(deg, 0) < {_KC_K}""",
            f"""CREATE OR REPLACE TEMP TABLE kc_s{r} AS
  SELECT src, dst FROM kc_s{r-1}
  WHERE src NOT IN (SELECT n FROM kc_k{r})
    AND dst NOT IN (SELECT n FROM kc_k{r})""",
            f"""CREATE OR REPLACE TEMP TABLE kc_a{r} AS
  SELECT n FROM kc_a{r-1} WHERE n NOT IN (SELECT n FROM kc_k{r})""",
        ]
    rounds_case = " ".join(
        f"WHEN kc_a0.n IN (SELECT n FROM kc_k{r}) THEN {r}"
        for r in range(1, _KC_R + 1)
    )
    stmts.append(
        f"""SELECT kc_a0.n AS suppkey,
       CAST(CASE {rounds_case} END AS BIGINT) AS peeled_round,
       CAST(CASE WHEN kc_a0.n IN (SELECT n FROM kc_a{_KC_R})
                 THEN COALESCE(f.deg, 0) END AS BIGINT) AS deg
FROM kc_a0 LEFT JOIN
  (SELECT src, COUNT(*) AS deg FROM kc_s{_KC_R} GROUP BY src) f
  ON kc_a0.n = f.src
ORDER BY suppkey"""
    )
    return stmts


# name -> zero-arg callable returning the ordered statement list; the
# LAST statement's result is what gets hash-compared.
STAGED_ORACLES: "dict[str, callable]" = {
    "q_kcore_peel": _kcore_staged_oracle,
}
