"""Round-11 guards for the ADAPTIVE exact-collapse.

Round 10 made every similarity-pair/cluster operator collapse exact
duplicates before candidate/verify (skew class); round 11 makes the
collapse adaptive — a duplicate-free corpus skips the members map, the
rep-selection join, and the within-group unions entirely
(``_exact_text_collapse`` returns ``members=None``).  These tests pin:

* the regime switch itself (None on distinct texts, a map otherwise,
  normalization- and NULL-aware);
* bit-identical operator output across the two regimes — the fast path
  must produce exactly the rows the collapsed path would (cross pairs
  expand 1:1, within-group pairs are empty);
* the degenerate-threshold symmetry ADVICE r10 asked for (simhash
  max_hamming < 0 returns no pairs even among exact duplicates);
* the cluster queries' identity-mapping fallback when members is None.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def distinct_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy cat tonight"),
            (3, "completely unrelated text about spark shuffles and parquet"),
            (4, "another unrelated document mentioning arrow batches only"),
            (5, None),
        ],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def dup_corpus(spark, distinct_corpus):
    # same corpus plus exact copies of doc 1 (one byte-identical, one
    # differing only in normalization-insensitive whitespace/case)
    extra = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog tonight"),
            (12, "  The quick brown fox jumps over the lazy dog tonight  "),
        ],
        "doc_id long, text string",
    )
    return distinct_corpus.unionByName(extra)


def test_collapse_regime_switch(spark, distinct_corpus, dup_corpus):
    from jibaro_spark.operators.dedup import _exact_text_collapse

    reps, members = _exact_text_collapse(distinct_corpus, "doc_id", "text")
    assert members is None
    # fast path: reps IS the caller's frame (every doc its own rep)
    assert sorted(r.doc_id for r in reps.select("doc_id").collect()) == [
        1, 2, 3, 4, 5,
    ]

    reps2, members2 = _exact_text_collapse(dup_corpus, "doc_id", "text")
    assert members2 is not None
    # min-id representative per NORMALIZED text; the two copies of doc
    # 1 collapse onto it, NULL text keeps its own (NULL-fp) group rep
    rep_ids = sorted(r.doc_id for r in reps2.select("doc_id").collect())
    assert rep_ids == [1, 2, 3, 4, 5]
    mm = {
        r["__gid"]: r["__rep"]
        for r in members2.select("__gid", "__rep").collect()
    }
    assert mm[11] == 1 and mm[12] == 1 and mm[1] == 1 and mm[2] == 2


def test_two_null_texts_route_to_collapsed_path(spark):
    # two NULL texts share the NULL-fingerprint group (cnt = 2), so the
    # probe conservatively takes the members path — and still emits no
    # pairs for them (NULL fp never self-joins)
    from jibaro_spark.operators.dedup import (
        _exact_text_collapse,
        minhash_near_duplicates,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    _, members = _exact_text_collapse(df, "doc_id", "text")
    assert members is not None
    pairs = minhash_near_duplicates(
        df, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3,
        jaccard_threshold=0.5,
    ).collect()
    assert pairs == []


def _pair_sets(df_pairs, score_col):
    return {
        (r.id_a, r.id_b, round(float(r[score_col]), 9))
        for r in df_pairs.collect()
    }


@pytest.mark.parametrize(
    "op,kwargs,score",
    [
        ("minhash_near_duplicates",
         dict(num_hashes=16, bands=4, shingle_n=3, jaccard_threshold=0.3),
         "est_jaccard"),
        ("simhash_near_duplicates",
         dict(max_hamming=10, shingle_n=2), "hamming"),
        ("ngram_jaccard_pairs",
         dict(shingle_n=3, threshold=0.3), "jaccard"),
        ("ngram_containment_pairs",
         dict(shingle_n=3, threshold=0.3), "containment"),
    ],
)
def test_fast_path_equals_collapsed_path(
    spark, distinct_corpus, dup_corpus, op, kwargs, score
):
    """The fast path (distinct corpus) must equal the collapsed path
    run on the same corpus-with-duplicates RESTRICTED to the original
    ids: adding exact copies of doc 1 may only add pairs touching the
    copies (11/12), never change or drop a pair among 1-5."""
    import jibaro_spark.operators.dedup as dd

    fn = getattr(dd, op)
    fast = _pair_sets(fn(distinct_corpus, "doc_id", "text", **kwargs), score)
    collapsed = _pair_sets(fn(dup_corpus, "doc_id", "text", **kwargs), score)
    originals = {p for p in collapsed if p[0] <= 5 and p[1] <= 5}
    assert fast == originals
    # and the copies expanded: every pair (1, x) implies (min, max) of
    # (11, x) and (12, x) with the identical score, plus the
    # within-group pairs of the 3-copy cluster at the exact-dup score
    for a, b, s in fast:
        for twin in (11, 12):
            ta, tb = (a if a != 1 else twin), (b if b != 1 else twin)
            if 1 in (a, b):
                assert (min(ta, tb), max(ta, tb), s) in collapsed
    exact_score = 0.0 if score == "hamming" else 1.0
    for pair in ((1, 11), (1, 12), (11, 12)):
        assert (pair[0], pair[1], exact_score) in collapsed


def test_simhash_negative_max_hamming_symmetry(spark, dup_corpus):
    # ADVICE r10: a degenerate max_hamming < 0 must return NO pairs,
    # including among exact duplicates (the uncollapsed join's
    # bit_count(xor) <= -1 filter would drop everything)
    from jibaro_spark.operators.dedup import simhash_near_duplicates

    out = simhash_near_duplicates(
        dup_corpus, "doc_id", "text", max_hamming=-1, shingle_n=2
    )
    assert out.count() == 0


def test_cluster_query_identity_mapping_fast_path(spark, tmp_path):
    """q_minhash_dedup_clusters / q_jaccard-family cluster queries fall
    back to an identity rep mapping when the corpus is duplicate-free;
    every text-bearing doc must still appear exactly once with a
    cluster id."""
    from jibaro_spark.queries.dedup import q_minhash_dedup_clusters

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight", 52),
            (2, "the quick brown fox jumps over the lazy cat tonight", 52),
            (3, "completely unrelated text about spark shuffles today", 52),
            (4, None, 0),
        ],
        "doc_id long, text string, n_chars long",
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    docs.write.parquet(str(sf / "documents.parquet"))
    out = q_minhash_dedup_clusters(spark, str(sf))
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    # docs 1/2 differ by one token: same cluster under 8/16 slot match
    # is plausible but not pinned; what IS pinned: NULL-text doc 4 is a
    # singleton keyed by itself
    assert rows[4].cluster_id == 4
