"""Round-12 family tests: ANOVA-F parity with a numpy reference,
McNemar discordant-cell semantics, graph-metric invariants
(assortativity bounds, modularity term algebra, local clustering on a
known graph via the query's own SQL oracle at a constructed fixture),
HITS ordering sanity, keyword ranking invariants, and no-cartesian
plan shapes (the only cross joins are 1-row scalar broadcasts).
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from jibaro_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_anova_f_matches_numpy_reference(spark, duck):
    rows = REGISTRY["q_anova_f"].fn(spark, SF).collect()
    xs = duck.sql(
        "SELECT o_orderpriority, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        "AS BIGINT) FROM orders"
    ).fetchall()
    groups: dict = {}
    for pr, x in xs:
        groups.setdefault(pr, []).append(x)
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    grand = sum(sum(v) for v in groups.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values()
    )
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    for r in rows:
        # rounded-addend pipeline vs naive float reference: agree to ~1e-6 rel
        assert abs(r["f_stat"] - f_ref) / f_ref < 1e-5
        assert r["n"] == len(groups[r["pr"]])


def test_mcnemar_cells_are_discordant_only(spark):
    rows = REGISTRY["q_mcnemar"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["b"] + r["c"] <= r["n"]
        if r["b"] + r["c"] > 0:
            want = (r["b"] - r["c"]) ** 2 / (r["b"] + r["c"])
            assert abs(r["mcnemar_stat"] - round(want, 6)) < 1e-9
        else:
            assert r["mcnemar_stat"] == 0.0


def test_assortativity_in_valid_range(spark):
    rows = REGISTRY["q_degree_assortativity"].fn(spark, SF01).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_directed_edges"] > 0
    assert -1.0 - 1e-9 <= r["assortativity"] <= 1.0 + 1e-9


def test_modularity_terms_sum_to_q(spark):
    rows = REGISTRY["q_modularity"].fn(spark, SF01).collect()
    assert rows
    q = rows[0]["modularity"]
    assert all(abs(r["modularity"] - q) < 1e-12 for r in rows)
    assert abs(sum(r["term"] for r in rows) - q) < 1e-4  # terms rounded to 6
    assert -1.0 <= q <= 1.0
    # degree masses must sum to 2m = sum of within+cross directed edges
    assert sum(r["degree_mass"] for r in rows) >= 2 * sum(
        r["within_edges"] for r in rows
    )


def test_local_clustering_bounds_and_triangle_consistency(spark):
    rows = REGISTRY["q_local_clustering"].fn(spark, SF01).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["lcc"] <= 1.0
        if r["deg"] < 2:
            assert r["triangles"] == 0 and r["lcc"] == 0.0
        else:
            assert r["triangles"] <= r["deg"] * (r["deg"] - 1) // 2
    # Σ per-node triangle incidences = 3 × (global triangle count): each
    # triangle is counted once at each of its three corners.
    assert sum(r["triangles"] for r in rows) % 3 == 0


def test_hits_authority_ordering_and_normalization(spark):
    rows = REGISTRY["q_hits_scores"].fn(spark, SF).collect()
    assert 0 < len(rows) <= 20
    scores = [r["authority"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    # L1-normalized over ALL suppliers; each score rounded to 6 decimals
    assert sum(scores) <= 1.0 + 5e-7 * (len(scores) + 1)


def test_doc_keywords_rank_invariants(spark):
    rows = REGISTRY["q_doc_keywords"].fn(spark, SF).collect()
    assert rows
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        for a, b in zip(rs, rs[1:]):
            assert a["score"] > b["score"] or (
                math.isclose(a["score"], b["score"], abs_tol=1e-9)
                and a["tok"] < b["tok"]
            )


def test_local_clustering_on_constructed_graph(spark, duck):
    """Hand-check the wedge/closure algebra: a triangle plus a pendant
    (4 nodes) — center of the triangle with the pendant has deg 3,
    1 triangle, lcc = 2*1/(3*2) = 1/3."""
    edges = [(1, 2), (2, 3), (1, 3), (1, 4)]
    s0 = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    )
    wedge = (
        s0.withColumnRenamed("dst", "n1")
        .join(
            s0.withColumnRenamed("src", "__c").withColumnRenamed("dst", "n2"),
            (F.col("src") == F.col("__c")) & (F.col("n1") < F.col("n2")),
        )
        .select(F.col("src").alias("ctr"), "n1", "n2")
    )
    e0 = s0.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    closed = (
        wedge.join(e0, (wedge["n1"] == e0["u"]) & (wedge["n2"] == e0["v"]), "left_semi")
        .groupBy("ctr")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    tri = {r["ctr"]: r["tri"] for r in closed.collect()}
    assert tri == {1: 1, 2: 1, 3: 1}


def test_local_clustering_matches_oriented_triangle_count(spark):
    """The r12 rewrite routes per-node triangle participation through
    the shared oriented node-iterator (triangle_count); pin its counts
    to the hand-checked wedge/closure algebra on the same constructed
    graph (triangle 1-2-3 plus pendant 4)."""
    from jibaro_spark.operators.graph import triangle_count

    edges = [(1, 2), (2, 3), (1, 3), (1, 4)]
    s0 = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_count(s0).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 0}


def test_co_edges_pinned_consumers_match_oracle(spark, duck, sf_dir):
    """Every _co_edges consumer reads the lazily pinned edge/degree
    frames; each must still match its DuckDB oracle."""
    from jibaro_spark.testing import compare_with_oracle

    for qname in (
        "q_degree_assortativity",
        "q_modularity",
        "q_local_clustering",
    ):
        dq = REGISTRY[qname]
        compare_with_oracle(dq.fn(spark, sf_dir), duck, dq.oracle)


@pytest.mark.parametrize(
    "qname",
    [
        "q_anova_f",
        "q_mcnemar",
        "q_degree_assortativity",
        "q_modularity",
        "q_local_clustering",
        "q_hits_scores",
        "q_doc_keywords",
    ],
)
def test_round12_no_cartesian(spark, qname):
    plan = REGISTRY[qname].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
