"""Round-21 family tests: IPF margin convergence, power-iteration
eigenpair laws, and clustering-index consistency.
"""

from __future__ import annotations

import math

from jibaro_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def test_ipf_margins_converge(spark):
    rows = REGISTRY["q_ipf_raking"].fn(spark, SF).collect()
    assert rows
    total = sum(r["n"] for r in rows)
    segs = {r["seg"] for r in rows}
    nats = {r["nat"] for r in rows}
    t_col = total / len(nats)
    # after the final COLUMN scaling, column margins are exact
    by_nat = {}
    for r in rows:
        by_nat[r["nat"]] = by_nat.get(r["nat"], 0.0) + r["raked_w"]
    for nat, s in by_nat.items():
        assert abs(s - t_col) < 1e-3, (nat, s, t_col)
    # row margins approach their target (3 iterations: within 5%)
    t_row = total / len(segs)
    by_seg = {}
    for r in rows:
        by_seg[r["seg"]] = by_seg.get(r["seg"], 0.0) + r["raked_w"]
    for seg, s in by_seg.items():
        assert abs(s - t_row) / t_row < 0.05, (seg, s, t_row)
    # weights stay non-negative and total mass is preserved-ish
    assert all(r["raked_w"] >= 0 for r in rows)
    assert abs(sum(r["raked_w"] for r in rows) - total) / total < 0.01


def test_pca_eigenpair_laws(spark):
    rows = REGISTRY["q_pca_power_iteration"].fn(spark, SF).collect()
    assert len(rows) == 4
    v = [r["loading"] for r in sorted(rows, key=lambda r: r["component"])]
    # unit norm
    assert abs(sum(x * x for x in v) - 1.0) < 1e-4
    # correlation matrix: eigenvalues lie in [0, 4] and the dominant
    # one is >= 1 (trace = 4 over 4 eigenvalues)
    ev = rows[0]["eigenvalue_est"]
    assert 1.0 - 1e-6 <= ev <= 4.0 + 1e-6
    # power iteration from a positive start on a matrix with unit
    # diagonal: the residual ||Cv - ev*v|| should already be small
    import numpy as np

    # rebuild the correlation matrix the same way the query does
    import duckdb

    mom = duckdb.sql(
        f"""
        SELECT COUNT(*) n,
               SUM(l_quantity) s1, SUM(l_extendedprice) s2,
               SUM(l_discount) s3, SUM(l_tax) s4,
               corr(l_quantity, l_extendedprice) c12,
               corr(l_quantity, l_discount) c13,
               corr(l_quantity, l_tax) c14,
               corr(l_extendedprice, l_discount) c23,
               corr(l_extendedprice, l_tax) c24,
               corr(l_discount, l_tax) c34
        FROM '{SF}/lineitem.parquet'
        """
    ).fetchall()[0]
    c12, c13, c14, c23, c24, c34 = mom[5:]
    C = np.array(
        [
            [1, c12, c13, c14],
            [c12, 1, c23, c24],
            [c13, c23, 1, c34],
            [c14, c24, c34, 1],
        ]
    )
    resid = np.linalg.norm(C @ np.array(v) - ev * np.array(v))
    assert resid < 0.05, resid


def test_clustering_indices_consistent(spark):
    ch = REGISTRY["q_calinski_harabasz"].fn(spark, SF).collect()[0]
    assert ch["ch_index"] >= 0.0
    assert ch["n_clusters"] >= 2
    db_rows = REGISTRY["q_davies_bouldin"].fn(spark, SF).collect()
    assert len(db_rows) == ch["n_clusters"]
    for r in db_rows:
        assert r["scatter"] > 0
        assert r["worst_ratio"] > 0
    # random-ish segment assignment over acctbal: clusters overlap, so
    # DB's worst ratio should be large and CH small — sanity direction
    assert max(r["worst_ratio"] for r in db_rows) > 1.0


def test_round21_pinned_iterations_match_oracle(spark, duck, sf_dir):
    """The r12 per-iteration lazy pins must leave both iterative
    queries matching their DuckDB oracles."""
    from jibaro_spark.testing import compare_with_oracle

    for qname in ("q_ipf_raking", "q_pca_power_iteration"):
        dq = REGISTRY[qname]
        compare_with_oracle(dq.fn(spark, sf_dir), duck, dq.oracle)
