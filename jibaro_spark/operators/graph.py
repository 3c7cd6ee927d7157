"""Distributed connected components over pair/edge DataFrames.

The reference has no graph operator; this is [ext] infrastructure for
the dedup pipeline: near-duplicate PAIRS (minhash / simhash / n-gram /
embedding, ``operators/dedup.py``, ``operators/similarity.py``) become
dedup GROUPS only after a connected-components pass — A~B and B~C must
collapse to one cluster {A,B,C} even though (A,C) was never emitted as
a pair.  The cluster id then drives canonical-document selection
(keep one row per cluster).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — converges in
O(log n) rounds on any graph, each round two shuffles on the node key.
A plain min-label propagation needs diameter-many rounds (a 1M-node
chain = 1M joins); large-star halves long paths every round, which is
the property that survives a 100 TB edge list.

Iteration mechanics on Spark: each round ends in ``localCheckpoint``
(lineage truncation — without it the plan doubles every round and
Catalyst analysis goes quadratic) and a single ``count`` action for the
convergence check.  Both are per-ROUND (≤ ~log n of them), not per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jibaro_spark.operators.util import local_frame


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) → for every neighbor v > u of u: (v, m) where m is the
    min of u's closed neighborhood.  Strictly-greater guard keeps the
    root's self-edge from oscillating."""
    nbrs = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = nbrs.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("m"))
    # one shuffle for the groupBy; the join re-uses the same key
    return (
        nbrs.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """(u,v) with v ≤ u: (v, m) ∪ (u, m) — hang small neighbors and
    self under the neighborhood min."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = e.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("m"))
    joined = e.join(m, "src")
    return (
        joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(joined.select(F.col("src"), F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


#: connected_components routes edge lists at or under this row count
#: through an exact driver-side union-find instead of the distributed
#: large-star/small-star loop.  200k edges is a few MB collected —
#: bounded driver work (guide §5's "almost no data work" still holds),
#: while each distributed round costs ~0.7-1.2 s of fixed job/planning
#: overhead regardless of size (measured r12: a 254-edge graph spent
#: 3.0 s of q_minhash_dedup_clusters' 5.4 s inside the loop).  At real
#: scale the count exceeds the bound and the loop runs unchanged.
_CC_DRIVER_EDGE_MAX = 200_000


def _cc_union_find(rows: "list") -> "dict":
    """Exact min-label connected components of a collected edge list:
    returns {node: component_min}.  Union-find with path halving; the
    final label is the minimum node id of the component — identical to
    the distributed loop's converged min-label by definition."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    labels: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    for n in parent:
        labels[n] = comp_min[find(n)]
    return labels


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_edge_max: int = _CC_DRIVER_EDGE_MAX,
) -> DataFrame:
    """Label every node of the undirected pair graph with its
    component's minimum node id.

    Returns ``(node, component)`` — one row per node that appears in
    ``pairs`` (callers union isolated nodes back with
    ``component = node`` if they need total coverage; see
    ``dedup_clusters``).

    ``src``/``dst`` must be mutually comparable orderable types (the
    min-label is the cluster id).  Raises if ``max_iter`` rounds don't
    converge — at the default 25 that would take a graph of diameter
    ~2^25, i.e. never for real near-dup graphs; the guard exists so a
    driver bug fails loudly instead of looping.

    Cost-based routing (r12, guide §1.2): the edge list is already
    checkpointed, so one cheap ``count`` decides the plan — at or
    under ``driver_edge_max`` rows the components come from an exact
    driver-side union-find (a bounded collect; the distributed loop's
    per-round fixed cost dwarfs the data at that size), above it the
    large-star/small-star loop runs exactly as before.  NULL node ids
    always take the distributed path (Python ``min`` cannot order
    them; the loop's join semantics are the pinned behaviour).
    Bit-identity of the two regimes is pinned in
    ``tests/test_round12_cc_driver_path.py``.
    """
    # Materialize the (possibly expensive — e.g. an LSH band join)
    # pair derivation ONCE: nodes and edges below are two consumers,
    # and without this both re-execute the upstream pipeline.
    norm = pairs.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    if driver_edge_max >= 0 and norm.count() <= driver_edge_max:
        rows = [(r[0], r[1]) for r in norm.collect()]
        if not any(a is None or b is None for a, b in rows):
            labels = _cc_union_find(rows)
            # Output schema exactly as the distributed branch builds it
            # (labels ∪ roots), derived plan-only — no extra jobs.
            labels_proto = norm.select(
                F.col("src").alias("node"), F.col("dst").alias("component")
            )
            nodes_proto = norm.select("src").union(norm.select("dst"))
            roots_proto = nodes_proto.select(
                F.col("src").alias("node"), F.col("src").alias("component")
            )
            out_schema = labels_proto.union(roots_proto).schema
            data = sorted(labels.items())
            return local_frame(norm.sparkSession, data, out_schema)
    # Nodes come from the UNFILTERED pairs: a node appearing only as a
    # self-pair (u,u) still owes an output row (its own singleton
    # component) per the contract above — filtering self-loops first
    # would silently drop it.
    nodes = norm.select("src").union(norm.select("dst")).distinct().localCheckpoint(False)
    edges = (
        norm.filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # LAZY checkpoint: the convergence count below is the round's
        # single blocking action — it materializes edges2's checkpoint
        # as a side effect, so each round costs ONE driver round-trip
        # instead of two (eager checkpoint + count).
        edges2 = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        # converged ⟺ edge set unchanged (both sides are distinct
        # sets).  ONE full-outer join job — a null on either side is a
        # symmetric-difference element (replaces two anti-join counts).
        changed = (
            edges2.withColumn("__l", F.lit(1))
            .join(edges.withColumn("__r", F.lit(1)), ["src", "dst"], "full_outer")
            .filter(F.col("__l").isNull() | F.col("__r").isNull())
            .limit(1)
            .count()
        )
        edges = edges2
        if not changed:
            break
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    # post-convergence the edge set is a star forest: src → root(=min).
    labels = edges.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = (
        nodes.join(labels, nodes["src"] == labels["node"], "left_anti")
        .select(F.col("src").alias("node"), F.col("src").alias("component"))
    )
    return labels.union(roots)


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Attach a ``cluster_id`` to every row of ``df`` from a near-dup
    pair list: connected component minimum for paired ids, own id for
    singletons.  ``filter(id == cluster_id)`` then keeps one canonical
    row per cluster — the standard minhash→pairs→components→canonical
    dedup pipeline tail.
    """
    comp = connected_components(pairs, src=pair_a, dst=pair_b)
    return (
        df.join(comp, df[id_col] == comp["node"], "left")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("node", "component")
    )


def triangle_count(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected pair
    graph (the compact-data-structure-free MapReduce formulation:
    Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW'11 — node-iterator with edge orientation).

    Edges are canonicalized, deduplicated, then ORIENTED by the
    degree total order (lower ``(degree, id)`` → higher): every
    triangle then has exactly one node with two out-edges, so the
    wedge self-join on the out-endpoint enumerates each triangle once,
    and total wedge work is Σ outdeg² = O(m^1.5) — the bound that
    makes triangle enumeration survive power-law hot nodes (an
    id-based orientation leaves a hub with all its edges outgoing and
    quadratic wedges; measured 1.5× slower even on the mildly skewed
    co-supply graph).  Two shuffle joins on node/edge keys; AQE
    handles residual skew.

    Returns ``(node, n_triangles)`` for every node of the graph
    (nodes in no triangle report 0).  Self-loops are ignored.
    """
    # Canonical undirected edges (a<b), materialized ONCE with
    # localCheckpoint: e has four consumers (nodes, degrees, the
    # orientation join, the closing join), and while Catalyst reuses
    # the distinct's exchange (ReusedExchange), the UPSTREAM pair
    # derivation — often a self-join, as in the co-supply graph —
    # still re-executes per consumer stage.  With the single-pass
    # corner explode below, q_triangle_count measured 4.0 s → 2.7 s
    # at sf0.1.  (At 100 TB prefer a persisted/bucketed edge table;
    # localCheckpoint is the single-job equivalent.)
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # the degree table IS the node set (every edge endpoint has deg ≥ 1)
    # — one groupBy serves both, no separate union+distinct pass
    nodes = deg.select("node")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("__db"))
    # orient low (deg, id) → high (deg, id); ties broken by id, and
    # a < b canonically, so (deg equal) keeps a → b
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    # wedges: unordered out-neighbor pairs of u, canonicalized v<w so
    # the closing lookup hits the undirected edge set e directly.
    # (A collect_list + in-array pair explode was measured 45% SLOWER
    # at sf0.1 — the HOF explode runs interpreted; the self-join stays
    # in codegen and reuses o's single materialization.)
    o1 = o.select("u", F.col("v").alias("x"))
    o2 = o.select("u", F.col("v").alias("y"))
    wedges = (
        o1.join(o2, "u")
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("u"),
            F.col("x").alias("a"),
            F.col("y").alias("c"),
        )
    )
    tri = wedges.join(e.select("a", F.col("b").alias("c")), ["a", "c"]).select(
        F.col("u").alias("a"), F.col("a").alias("b"), F.col("c")
    )
    # one pass over the (expensive) closing join: a 3-way union of
    # projections re-executes the join per branch (only its exchanges
    # are reused); explode(array(...)) emits all three corners in one
    # execution
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    counts = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        nodes.join(counts, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 12,
    broadcast_edges: bool = False,
) -> DataFrame:
    """Weighted PageRank with a FIXED iteration count, engineered for
    cross-engine exactness: per-edge contributions are rounded to
    ``scale`` decimals and accumulated as DECIMAL (so the per-node sum
    is independent of partitioning/order), and each new rank is
    re-rounded the same way.  A fixed-point iterative algorithm whose
    every iterate hash-matches an unrolled SQL oracle.

    Per iteration: one join of the rank vector onto the edge list
    (shuffle on ``src`` — or broadcast when the rank vector fits, as
    for aggregated entity graphs) + one grouped sum on ``dst``.
    Lineage is truncated per round with ``localCheckpoint`` exactly as
    in :func:`connected_components`; at 100 TB the edge list is the
    static big side and should be pre-partitioned on ``src`` once so
    every iteration reuses the same partitioning (no re-shuffle of
    edges).

    Dangling nodes (no out-edges) leak their mass — the classic
    simplification; ranks still sum to < 1 and order is preserved.
    Returns ``(node, pr)``.
    """
    dec = f"decimal(28,{scale})"
    # Materialize the (possibly expensive) upstream edge derivation ONCE;
    # nodes, out-weights and the share table all derive from this
    # checkpointed base instead of re-running the derivation per consumer.
    e = edges.select(
        F.col(src).alias("__src"),
        F.col(dst).alias("__dst"),
        (F.col(weight) if weight else F.lit(1)).cast("double").alias("__w"),
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_df = F.broadcast(nodes.agg(F.count(F.lit(1)).cast("double").alias("__n")))
    outw = e.groupBy("__src").agg(F.sum("__w").alias("__outw"))
    # Checkpoint the share table too: it is referenced by every iteration,
    # and without lineage truncation the plan re-grows each round.
    e = (
        e.join(outw, "__src")
        .select(
            "__src", "__dst", (F.col("__w") / F.col("__outw")).alias("__share")
        )
        .localCheckpoint(eager=False)
    )
    # The edge list is the static BIG side at scale — never broadcast it
    # by default.  ``broadcast_edges=True`` is for dimension-sized
    # aggregated entity graphs only (e.g. a nation-level graph); for
    # everything else AQE picks the join strategy, and when the RANK
    # vector is the small side it is the one that gets broadcast.
    if broadcast_edges:
        e = F.broadcast(e)
    pr = nodes.crossJoin(n_df).select(
        "node", F.round(F.lit(1.0) / F.col("__n"), scale).cast(dec).alias("pr")
    )
    for _ in range(iterations):
        contrib = (
            e.join(pr, e["__src"] == pr["node"])
            .select(
                F.col("__dst").alias("node"),
                F.round(F.col("pr").cast("double") * F.col("__share"), scale)
                .cast(dec)
                .alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .crossJoin(n_df)
            .select(
                "node",
                F.round(
                    F.lit(1.0 - damping) / F.col("__n")
                    + F.lit(damping)
                    * F.coalesce(F.col("__in"), F.lit(0)).cast("double"),
                    scale,
                )
                .cast(dec)
                .alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return pr


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Minimum hop distance from any node of ``sources`` (a one-column
    DataFrame of node ids) to every reachable node within
    ``max_hops`` — distributed level-synchronous BFS ([ext]; the
    reference has no graph surface).

    Returns ``(node, dist)`` with ``dist`` ∈ [0, max_hops]; source
    nodes get 0; unreachable nodes are absent.

    Scale shape: per level, the frontier ring joins the checkpointed
    edge list.  While the ring is small (the common case — it is
    bounded by the ``new.count()`` the level loop already pays for),
    it is BROADCAST, so the level costs one edge-list SCAN with no
    edge shuffle and no per-level sort; a ring past the broadcast
    budget falls back to the co-partitioned hash join (never a
    broadcast of the graph).  The r6 10× scale smoke caught the old
    always-shuffle shape at 17× for 10× data — per-level sort-merge
    re-sorted the full edge list every hop; the broadcast form is a
    map-side lookup proportional to E per level, with only the
    matched ring shuffled for the distinct.  The anti-join against
    visited is ring-sized.  Lineage is truncated per level with
    ``localCheckpoint`` (the iterative-plan rule used by
    :func:`connected_components`); driver actions are one ``count``
    per level — O(diameter), never O(rows).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=True)
    visited = (
        sources.toDF("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    n_frontier = visited.count()
    broadcast_limit = 2_000_000  # ring rows; ~16 MB of longs, executor-safe
    for hop in range(1, max_hops + 1):
        if n_frontier <= broadcast_limit:
            joined = e.join(F.broadcast(frontier), e["src"] == frontier["node"])
        else:
            joined = frontier.join(e, frontier["node"] == e["src"])
        nxt = joined.select(F.col("dst").alias("node")).distinct()
        new = (
            nxt.join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
            .localCheckpoint(eager=True)
        )
        n_frontier = new.count()
        if not n_frontier:
            break
        # visited is a union of per-level checkpoints — lineage depth
        # grows with hops (bounded by max_hops), not with data
        visited = visited.union(new)
        frontier = new.select("node")
    return visited


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    max_iters: int = 30,
    directed: bool = False,
) -> DataFrame:
    """Single-source(-set) shortest paths with non-negative edge
    weights — frontier-based distributed Bellman-Ford ([ext]; the
    weighted generalization of :func:`bfs_distances`).

    Returns ``(node, dist)`` with the minimum total weight from any
    source node; sources get 0; unreachable nodes are absent.

    Scale shape: identical to BFS — per round, only the IMPROVED
    label set (the frontier) joins the checkpointed edge list
    (broadcast while small, co-partitioned hash join past the
    budget), candidate labels are min-combined per node (map-side
    partial min), and the improvement test is a frontier-sized join
    against the current label table.  Rounds are bounded by the
    weighted diameter in hops (≤ ``max_iters``); each costs one
    bounded ``count``.  Unlike BFS, a node can re-enter the frontier
    when a cheaper path arrives later — classic label-correcting
    behavior; with non-negative weights the label table converges in
    at most |V| rounds.  Negative weights are rejected (label
    correction would still converge only without negative cycles,
    and the oracle's bounded walk enumeration could not be trusted).
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    )
    if not directed:
        e = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    e = (
        e.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    if e.filter(F.col("w") < 0).limit(1).count():
        raise ValueError("sssp requires non-negative edge weights")
    dist = (
        sources.toDF("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    n_frontier = dist.count()
    broadcast_limit = 2_000_000
    for _ in range(max_iters):
        if not n_frontier:
            break
        if n_frontier <= broadcast_limit:
            joined = e.join(F.broadcast(frontier), e["src"] == frontier["node"])
        else:
            joined = frontier.join(e, frontier["node"] == e["src"])
        cand = (
            joined.select(
                F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("nd")
            )
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        improved = (
            cand.join(dist, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("node", F.col("nd").alias("dist"))
            .localCheckpoint(eager=True)
        )
        n_frontier = improved.count()
        if not n_frontier:
            break
        dist = (
            dist.join(improved.select(F.col("node").alias("__in")), dist["node"] == F.col("__in"), "left_anti")
            .union(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return dist


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Peel toward the k-core for a FIXED number of rounds: each round
    drops every alive node whose current degree is < ``k`` (isolated
    nodes count as degree 0, so they peel too) and restricts the edge
    set to surviving endpoints.  Returns one row per node, with the
    round it was peeled in (``peeled_round``, 1-based; NULL = still in
    after ``rounds`` rounds) and its final degree (NULL once peeled;
    an alive node's final degree can be < k — even 0 — when its
    neighbors fell in the LAST round: it would peel in round
    ``rounds + 1``).

    ``nodes`` (single column, any name) fixes the node universe; when
    omitted it defaults to the edge endpoints.  A fixed round count
    keeps the result deterministic and oracle-expressible (the driver
    oracle unrolls the same rounds in SQL); full k-core needs
    loop-until-fixpoint, which is the same body with a convergence
    count — at 100 TB each round is one degree aggregation (map-side
    combinable) plus two keyed semi-joins of the edge list against the
    shrinking kill set, and peeling converges in few rounds on
    heavy-tailed graphs because most mass is far from the core
    boundary.  Lineage is truncated per round with ``localCheckpoint``
    exactly as in :func:`connected_components`.

    Input must be an undirected edge list given in ONE direction per
    pair (the function symmetrizes internally); self-loops are
    dropped.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.distinct().localCheckpoint(eager=True)
    if nodes is None:
        alive = sym.select(F.col("src").alias("node")).distinct()
    else:
        alive = nodes.toDF("node").distinct()
    alive = alive.localCheckpoint(eager=True)
    all_nodes = alive
    peeled = None  # DataFrame[node, peeled_round]
    for r in range(1, rounds + 1):
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        kill = (
            alive.join(deg.withColumnRenamed("src", "node"), "node", "left")
            .filter(F.coalesce(F.col("deg"), F.lit(0)) < k)
            .select("node")
            .localCheckpoint(eager=True)
        )
        if kill.isEmpty():
            break
        tagged = kill.select(
            "node", F.lit(r).cast("long").alias("peeled_round")
        )
        peeled = tagged if peeled is None else peeled.union(tagged)
        alive = alive.join(kill, "node", "left_anti").localCheckpoint(eager=True)
        sym = (
            sym.join(kill.withColumnRenamed("node", "src"), "src", "left_anti")
            .join(kill.withColumnRenamed("node", "dst"), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
    final_deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    survived = alive.join(
        final_deg.withColumnRenamed("src", "node"), "node", "left"
    ).select("node", F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"))
    out = all_nodes.join(survived, "node", "left")
    if peeled is not None:
        out = out.join(peeled.localCheckpoint(eager=True), "node", "left")
    else:
        out = out.withColumn("peeled_round", F.lit(None).cast("long"))
    return out.select("node", "peeled_round", F.col("deg").cast("long").alias("deg"))


def bfs_distances_per_source(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Per-source minimum hop distances — the landmark primitive
    behind closeness/harmonic centrality and distance-sketch
    embeddings ([ext]; the reference has no graph surface).

    Same level-synchronous shape as :func:`bfs_distances`, but the
    BFS state is keyed by ``(source, node)`` so every landmark's
    distance field stays separate: the frontier joins the edge list
    on the node, the anti-join against visited runs on the pair key.
    Returns ``(source, node, dist)``.

    Scale contract: state is ``|sources| × |reachable|`` — callers
    pass a BOUNDED landmark set (every exact-at-scale closeness
    estimator samples landmarks; Eppstein-Wang 2004 bounds the error
    at O(sqrt(log n / k)) for k landmarks).  The per-level edge join
    broadcasts the frontier under the same 2M-row budget as
    :func:`bfs_distances`, falling back to a co-partitioned hash
    join, and lineage is truncated per level with localCheckpoint.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=True)
    visited = (
        sources.toDF("source")
        .distinct()
        .select(F.col("source"), F.col("source").alias("node"))
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("source", "node")
    n_frontier = visited.count()
    broadcast_limit = 2_000_000
    for hop in range(1, max_hops + 1):
        if n_frontier <= broadcast_limit:
            joined = e.join(F.broadcast(frontier), e["src"] == frontier["node"])
        else:
            joined = frontier.join(e, frontier["node"] == e["src"])
        nxt = joined.select("source", F.col("dst").alias("node")).distinct()
        new = (
            nxt.join(visited, ["source", "node"], "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
            .localCheckpoint(eager=True)
        )
        n_frontier = new.count()
        if not n_frontier:
            break
        visited = visited.union(new)
        frontier = new.select("source", "node")
    return visited


def boruvka_mst(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    max_rounds: int = 25,
) -> DataFrame:
    """Minimum spanning forest via Borůvka's algorithm — the
    distributed MST (each round EVERY component picks its lightest
    outgoing edge simultaneously, components contract, O(log n)
    rounds; the same structure GraphX/Giraph MST implementations use,
    because Prim/Kruskal are inherently sequential).

    Edge weights are tie-broken into a TOTAL order by (w, src, dst),
    which makes the MST unique — so the result is checkable against
    any other MST algorithm (the declared query's oracle uses the
    CYCLE PROPERTY instead of replaying Borůvka: an edge is in the
    unique MST iff its endpoints are NOT connected using strictly
    lighter edges).

    Per round: one join of edges against the component labels, one
    per-component argmin (window over component-bounded candidate
    rows), a component-graph connected-components pass to contract,
    and a localCheckpoint to truncate lineage.  At 100 TB the edge
    list is shuffled on its endpoints each round with O(log n)
    rounds — the standard distributed-MST cost.

    Returns the forest edges ``(src, dst, w)`` (canonical src<dst).
    """
    from pyspark.sql.window import Window

    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("a"),
        F.greatest(F.col(src), F.col(dst)).alias("b"),
        F.col(w).alias("w"),
    ).filter(F.col("a") != F.col("b"))
    # unique edge per (a,b): keep the lightest parallel edge
    we = Window.partitionBy("a", "b").orderBy("w")
    e = (
        e.withColumn("__r", F.row_number().over(we))
        .filter(F.col("__r") == 1)
        .drop("__r")
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("a").alias("node")).union(
        e.select(F.col("b").alias("node"))
    ).distinct()
    comp = nodes.withColumn("comp", F.col("node")).localCheckpoint(eager=True)
    # empty accumulator with the PROJECTED edge schema — node ids may be
    # strings, weights decimal/double; hardcoding long would break the
    # unionByName for any non-bigint graph
    mst = e.select("a", "b", "w").limit(0)
    for _ in range(max_rounds):
        ca = comp.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
        cb = comp.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
        cross = (
            e.join(ca, "a").join(cb, "b").filter(F.col("ca") != F.col("cb"))
        )
        # per-component lightest outgoing edge under the (w, a, b)
        # total order — ties cannot happen, so the MST is unique
        cand = cross.select(
            F.col("ca").alias("c"), "a", "b", "w", "cb"
        ).unionByName(
            cross.select(F.col("cb").alias("c"), "a", "b", "w", F.col("ca").alias("cb"))
        )
        wmin = Window.partitionBy("c").orderBy("w", "a", "b")
        picks = (
            cand.withColumn("__r", F.row_number().over(wmin))
            .filter(F.col("__r") == 1)
            .localCheckpoint(eager=True)
        )
        if picks.limit(1).count() == 0:
            break
        mst = (
            mst.unionByName(picks.select("a", "b", "w"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # contract the component graph along the picked edges
        comp_edges = picks.select(
            F.col("c").alias("src"), F.col("cb").alias("dst")
        )
        cc = connected_components(comp_edges)
        comp = (
            comp.join(cc, comp["comp"] == cc["node"], "left")
            .select(
                comp["node"].alias("node"),
                F.coalesce(cc["component"], comp["comp"]).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
    return mst.select(
        F.col("a").alias(src), F.col("b").alias(dst), F.col("w").alias(w)
    )
