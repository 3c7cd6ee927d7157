"""Cell-partitioned semantic dedup (VERDICT r4 §Next-2): the cells
mode must (a) agree exactly with the all-pairs verification oracle on
the planted-replica fixture corpus AND on synthetic clustered data,
and (b) do provably sub-quadratic candidate work — pair-candidate
volume O(n·cell_size), not O(n²/num_blocks)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from jibaro_spark.operators import similarity as sim

SF_SMOKE = "/root/testdata/sf0.001"


def _pairs_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


@pytest.fixture(scope="module")
def planted_corpus(spark):
    from jibaro_spark.queries.dedup import _planted_corpus

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    return _planted_corpus(emb).cache()


def test_cells_match_exact_on_planted_corpus(planted_corpus):
    """Cells path == all-pairs exact path at the SemDeDup threshold on
    the planted fixture corpus (the q_embedding_dedup_clusters input).
    Replica pairs are identical vectors, so cell recall is exact by
    construction at n_probe=1 regardless of cell count."""
    exact = _pairs_set(
        sim.embedding_near_duplicates_exact(
            planted_corpus, "vec_id", "embedding", threshold=0.92
        )
    )
    for n_cells in (4, 8, 16):
        cells = _pairs_set(
            sim.embedding_near_duplicates_cells(
                planted_corpus,
                "vec_id",
                "embedding",
                threshold=0.92,
                n_cells=n_cells,
                n_probe=1,
            )
        )
        assert cells == exact, f"n_cells={n_cells}"
    # non-vacuous: every 5th of 500 ids has >= 1 replica pair
    assert len(exact) >= 100


def _clustered_df(spark, n_clusters=20, per_cluster=40, dim=16):
    """Deterministic tight clusters: center c is a unit basis-ish
    vector, members are small deterministic perturbations — the shape
    of a real (deduplicatable) embedding corpus."""
    rows = []
    for c in range(n_clusters):
        for m in range(per_cluster):
            v = [0.0] * dim
            v[c % dim] = 10.0
            v[(c * 7 + 3) % dim] = 5.0 + (c % 3)
            # small per-member jitter, deterministic
            v[(m * 5 + 1) % dim] += 0.05 * ((m * 37 + c * 11) % 7 - 3)
            v[(m * 3 + 2) % dim] += 0.04 * ((m * 13 + c * 5) % 5 - 2)
            rows.append((c * 1000 + m, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cells_match_exact_on_clustered_data(spark):
    """On clustered data at a high threshold, the cells path equals the
    exact path while touching ~1/n_cells of the pair space."""
    df = _clustered_df(spark).cache()
    exact = _pairs_set(
        sim.embedding_near_duplicates_exact(df, "vec_id", "embedding", 0.97)
    )
    cells = _pairs_set(
        sim.embedding_near_duplicates_cells(
            df, "vec_id", "embedding", 0.97, n_cells=20, n_probe=2
        )
    )
    assert cells == exact
    assert len(exact) > 1000  # intra-cluster near-dups exist


def test_cells_candidate_volume_subquadratic(spark):
    """Pair-candidate volume of the cells plan is Σ_c m_c·(m_c−1)/2 —
    assert it is a small fraction of the all-pairs volume n·(n−1)/2
    (the O(n·cell_size) vs O(n²/B) claim, measured through the very
    assignment expression the operator groups on)."""
    df = _clustered_df(spark)
    n = df.count()
    seeds = sim.seed_centroids(df, "vec_id", "embedding", 20)
    cents = sim.kmeans_refine(df, "embedding", seeds, 2)
    sizes = [
        r["n"]
        for r in df.select(
            sim._nearest_cells(F.col("embedding"), cents, 1)[0].alias("c")
        )
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    cand = sum(m * (m - 1) // 2 for m in sizes)
    allp = n * (n - 1) // 2
    assert cand < 0.15 * allp, f"candidate volume {cand} vs all-pairs {allp}"
    # and cells are reasonably balanced (no degenerate mega-cell)
    assert max(sizes) <= 5 * math.ceil(n / 20)


def test_cells_identical_vector_recall_any_params(spark):
    """Identical vectors land in identical cells for ANY parameter
    choice — the probability-1 recall contract for replica dedup."""
    base = _clustered_df(spark, n_clusters=6, per_cluster=10)
    replicas = base.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(replicas)
    expected = {
        (r["vec_id"], r["vec_id"] + 500000)
        for r in base.filter(F.col("vec_id") % 3 == 0).collect()
    }
    for n_cells, n_probe, blocks in ((3, 1, 1), (7, 1, 2), (12, 2, 1)):
        got = _pairs_set(
            sim.embedding_near_duplicates_cells(
                corpus,
                "vec_id",
                "embedding",
                threshold=0.999999,
                n_cells=n_cells,
                n_probe=n_probe,
                num_blocks=blocks,
            )
        )
        assert expected <= got, f"params {(n_cells, n_probe, blocks)}"


def test_exact_path_unchanged_after_kernel_refactor(spark):
    """The shared-kernel refactor must not change the all-pairs path:
    pin its output against a driver-confirmed construction (multi-block
    sharding == single-block)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    one = _pairs_set(
        sim.embedding_near_duplicates_exact(
            emb, "vec_id", "embedding", 0.45, num_blocks=1
        )
    )
    eight = _pairs_set(
        sim.embedding_near_duplicates_exact(
            emb, "vec_id", "embedding", 0.45, num_blocks=8
        )
    )
    assert one == eight
    assert len(one) == 7  # measured fixture ground truth at sf0.001
