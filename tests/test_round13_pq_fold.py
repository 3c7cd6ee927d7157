"""Round-13 guards for the folded PQ-codebook trainer.

``train_pq_codebook`` now trains all ``m`` subspaces in one job per
phase (seeds from ONE strided collect of full vectors sliced in the
driver; one assignment+means aggregation per Lloyd iteration) instead
of 3 jobs per subspace.  Pinned here against the per-subspace loop it
replaced (``_train_loop`` below — ``seed_centroids`` + ``kmeans_refine``
per sub-vector slice):

* seed selection is FLOAT-IDENTICAL (same strided id set for every
  subspace; slicing the collected full vector ≡ the JVM F.slice the
  loop collected);
* refined centroids agree to ulp-class tolerance (the different
  partial-aggregation grouping is the family's accepted variance — the
  declared contract is recall, pinned in test_approx_ops);
* codebook shape: every (sub, cid) present exactly once, cvec width =
  sub_dim, in both regimes.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jibaro_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = [
        (
            i,
            [
                math.sin(0.37 * i + 0.11 * d) * (1 + (d % 3))
                for d in range(16)
            ],
        )
        for i in range(120)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _train_loop(df, m: int, sub_dim: int, k: int, iterations: int) -> dict:
    """The pre-fold trainer: one seed + Lloyd pass per subspace."""
    out = {}
    for s in range(m):
        sub = df.select(
            F.col("vec_id"),
            F.slice(F.col("embedding"), s * sub_dim + 1, sub_dim).alias("__sv"),
        )
        seeds = sim.seed_centroids(sub, "vec_id", "__sv", n_centroids=k)
        cents = sim.kmeans_refine(sub, "__sv", seeds, iterations=iterations)
        for cid, c in enumerate(cents):
            # float32 round trip, as the codebook's array<float> column
            out[(s, cid)] = [float(np.float32(x)) for x in c]
    return out


def _train_fold(df, m: int, sub_dim: int, k: int, iterations: int) -> dict:
    cb = sim.train_pq_codebook(
        df, "vec_id", "embedding", m=m, sub_dim=sub_dim, k=k,
        iterations=iterations,
    )
    return {(r["sub"], r["cid"]): list(r["cvec"]) for r in cb.collect()}


def test_fold_matches_loop(vectors):
    folded = _train_fold(vectors, m=4, sub_dim=4, k=8, iterations=1)
    loop = _train_loop(vectors, m=4, sub_dim=4, k=8, iterations=1)
    assert set(folded) == set(loop)
    assert set(folded) == {(s, c) for s in range(4) for c in range(8)}
    for key in folded:
        a, b = folded[key], loop[key]
        assert len(a) == len(b) == 4
        for x, y in zip(a, b):
            assert x == pytest.approx(y, rel=1e-6, abs=1e-6)


def test_fold_seeds_identical_no_refine(vectors):
    # iterations=0 isolates the seed phase: it must be bit-identical,
    # not just close
    f = _train_fold(vectors, m=4, sub_dim=4, k=8, iterations=0)
    assert f == _train_loop(vectors, m=4, sub_dim=4, k=8, iterations=0)


def test_fold_nonnumeric_id_fallback(spark):
    # non-numeric ids skip the strided filter entirely: the hash-order
    # fallback must engage in the folded path exactly like the loop's
    rows = [
        (f"doc-{i:03d}", [float(i + d) for d in range(8)]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    f = _train_fold(df, m=2, sub_dim=4, k=16, iterations=0)
    assert f == _train_loop(df, m=2, sub_dim=4, k=16, iterations=0)
