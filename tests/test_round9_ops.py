"""Round-9 family tests: geo_nearest_join (progressive radius
refinement) semantics — parity vs the brute-force cross-join argmin,
escalation behavior for isolated points, the max-radius drop contract,
argument guards — plus plan-shape assertions for the retrieval-eval,
propensity-matching, and Neyman-allocation queries.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from jibaro_spark.operators.geo import geo_nearest_join, haversine_km
from jibaro_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _brute_nn(left, right):
    """Reference answer: cross join + per-left argmin (dist, s_id)."""
    d = haversine_km(F.col("clat"), F.col("clon"), F.col("slat"), F.col("slon"))
    pairs = left.crossJoin(right).withColumn("__d", d)
    best = pairs.groupBy("c_id").agg(
        F.min(F.struct(F.col("__d"), F.col("s_id"))).alias("b")
    )
    return {
        r["c_id"]: (r["b"]["s_id"], round(r["b"]["__d"], 6))
        for r in best.collect()
    }


def _fixture(spark):
    left = spark.range(1, 301).select(
        F.col("id").alias("c_id"),
        (((F.col("id") * 37) % 12000) / 100.0 - 60.0).alias("clat"),
        (((F.col("id") * 91) % 36000) / 100.0 - 180.0).alias("clon"),
    )
    right = spark.range(1, 41).select(
        F.col("id").alias("s_id"),
        (((F.col("id") * 67) % 12000) / 100.0 - 60.0).alias("slat"),
        (((F.col("id") * 149) % 36000) / 100.0 - 180.0).alias("slon"),
    )
    return left, right


def test_nearest_matches_brute_force(spark):
    """Every left point's (neighbor, distance) equals the cross-join
    argmin — across several escalation rounds (start radius small
    enough that many points need to escalate)."""
    left, right = _fixture(spark)
    got_rows = geo_nearest_join(
        left, right, "c_id", "s_id",
        left_coords=("clat", "clon"), right_coords=("slat", "slon"),
        start_radius_km=200.0,
    ).collect()
    got = {r["c_id"]: (r["s_id"], round(r["dist_km"], 6)) for r in got_rows}
    assert got == _brute_nn(left, right)
    assert len(got) == 300  # default max radius covers the sphere


def test_single_round_when_start_radius_huge(spark):
    """A start radius covering the sphere degenerates to one round and
    still matches brute force."""
    left, right = _fixture(spark)
    got_rows = geo_nearest_join(
        left, right, "c_id", "s_id",
        left_coords=("clat", "clon"), right_coords=("slat", "slon"),
        start_radius_km=20040.0, max_radius_km=20040.0,
    ).collect()
    got = {r["c_id"]: (r["s_id"], round(r["dist_km"], 6)) for r in got_rows}
    assert got == _brute_nn(left, right)


def test_max_radius_drops_isolated_points(spark):
    """Left points with no right point within max_radius_km are
    dropped, and every emitted distance respects the bound."""
    left, right = _fixture(spark)
    rows = geo_nearest_join(
        left, right, "c_id", "s_id",
        left_coords=("clat", "clon"), right_coords=("slat", "slon"),
        start_radius_km=100.0, max_radius_km=400.0,
    ).collect()
    brute = _brute_nn(left, right)
    within = {k: v for k, v in brute.items() if v[1] <= 400.0}
    got = {r["c_id"]: (r["s_id"], round(r["dist_km"], 6)) for r in rows}
    assert got == within
    assert 0 < len(got) < 300  # the bound actually bites on this fixture


def test_bad_radii_rejected(spark):
    left, right = _fixture(spark)
    with pytest.raises(ValueError, match="start_radius_km"):
        geo_nearest_join(
            left, right, "c_id", "s_id",
            left_coords=("clat", "clon"), right_coords=("slat", "slon"),
            start_radius_km=0.0,
        )
    with pytest.raises(ValueError, match="start_radius_km"):
        geo_nearest_join(
            left, right, "c_id", "s_id",
            left_coords=("clat", "clon"), right_coords=("slat", "slon"),
            start_radius_km=500.0, max_radius_km=100.0,
        )


def test_propensity_match_windows_are_nation_keyed(spark):
    """Candidate generation is adjacency windows PARTITIONED BY nation
    — never a treated × control pair join, never a single-partition
    window over the customer table (the only global stages are the
    per-nation rollup rows)."""
    plan = _executed_plan(REGISTRY["q_propensity_match"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_retrieval_ndcg_broadcasts_query_side(spark):
    """The query side (5 vectors) broadcasts against the corpus scan;
    metric math runs on queries × k rows only."""
    plan = _executed_plan(REGISTRY["q_retrieval_ndcg"].fn(spark, SF))
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_neyman_allocation_sums_to_budget(spark):
    """Largest-remainder rounding yields integer allocations summing
    to exactly the n=1000 budget."""
    rows = REGISTRY["q_neyman_allocation"].fn(spark, SF).collect()
    assert sum(r["alloc"] for r in rows) == 1000
    assert all(r["alloc"] >= 0 for r in rows)


# --------------------------------------------------------------------------
# incremental_minmax_apply: the non-self-maintainable IVM case — each
# scenario targets one branch of the clean/dirty split.


def _minmax_fixture(spark):
    from pyspark.sql import functions as F  # noqa: F401

    fact = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (1, 30.0), (2, 5.0), (2, 5.0), (3, 7.0)],
        "k int, v double",
    )
    agg = fact.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(F.col("v").cast("decimal(28,4)")).alias("min_v"),
        F.max(F.col("v").cast("decimal(28,4)")).alias("max_v"),
    )
    return fact, agg


def _apply(spark, fact, agg, change_rows):
    from jibaro_spark.operators.cdc import incremental_minmax_apply

    changes = spark.createDataFrame(
        change_rows, "op string, k int, before_v double, after_v double"
    )
    # build the post-change fact the way a CDC consumer would
    dels = {(r[1], r[2]) for r in change_rows if r[0] in ("d", "u")}
    adds = [(r[1], r[3]) for r in change_rows if r[0] in ("c", "u")]
    old = [(r["k"], float(r["v"])) for r in fact.collect()]
    new = list(old)
    for key, val in dels:
        new.remove((key, val))
    new += adds
    new_fact = spark.createDataFrame(new, "k int, v double")
    out = incremental_minmax_apply(
        agg, changes, new_fact, keys=["k"], value_col="v"
    )
    got = {
        r["k"]: (r["n"], float(r["min_v"]), float(r["max_v"]))
        for r in out.collect()
    }
    want = {
        r["k"]: (r["n"], float(r["min_v"]), float(r["max_v"]))
        for r in new_fact.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(F.col("v").cast("decimal(28,4)")).alias("min_v"),
            F.max(F.col("v").cast("decimal(28,4)")).alias("max_v"),
        )
        .collect()
    }
    assert got == want, (got, want)


def test_minmax_delete_of_extremum_repairs(spark):
    fact, agg = _minmax_fixture(spark)
    _apply(spark, fact, agg, [("d", 1, 10.0, None)])  # deletes the min


def test_minmax_delete_of_interior_value_self_maintains(spark):
    fact, agg = _minmax_fixture(spark)
    _apply(spark, fact, agg, [("d", 1, 20.0, None)])


def test_minmax_delete_one_of_tied_extrema(spark):
    fact, agg = _minmax_fixture(spark)
    _apply(spark, fact, agg, [("d", 2, 5.0, None)])  # twin 5.0 remains


def test_minmax_update_moves_extremum(spark):
    fact, agg = _minmax_fixture(spark)
    _apply(spark, fact, agg, [("u", 1, 30.0, 2.0)])  # max becomes new min


def test_minmax_new_key_and_emptied_key(spark):
    fact, agg = _minmax_fixture(spark)
    _apply(
        spark,
        fact,
        agg,
        [("c", 9, None, 42.0), ("d", 3, 7.0, None)],  # key 3 vanishes
    )


def test_minmax_insert_only_self_maintains(spark):
    fact, agg = _minmax_fixture(spark)
    _apply(spark, fact, agg, [("c", 1, None, 1.0), ("c", 1, None, 99.0)])


# --------------------------------------------------------------------------
# ngram_containment_pairs: asymmetric semantics + completeness.


def test_containment_is_directional(spark):
    """A short doc embedded verbatim in a long doc qualifies a→b with
    containment 1.0; the reverse direction does not reach τ; Jaccard
    at the same τ would find nothing."""
    from jibaro_spark.operators.dedup import ngram_containment_pairs

    small = "the quick brown fox jumps over the lazy dog"
    big = (
        "intro text before the quote begins now "
        + small
        + " and then a very long tail "
        + " ".join(f"filler{i}" for i in range(60))
    )
    df = spark.createDataFrame([(1, small), (2, big)], "doc_id long, text string")
    rows = ngram_containment_pairs(df, "doc_id", "text", 3, 0.8).collect()
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in rows}
    assert got == {(1, 2): 1.0}


def test_containment_matches_brute_force(spark):
    """Prefix-filtered candidates lose no qualifying directed pair vs
    the brute-force all-pairs answer on fixture documents."""
    from jibaro_spark.operators.dedup import ngram_containment_pairs, shingles

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    sh = docs.select(
        F.col("doc_id").alias("i"),
        F.array_distinct(shingles(F.col("text"), 3)).alias("s"),
    )
    brute = (
        sh.alias("a")
        .crossJoin(sh.select(F.col("i").alias("j"), F.col("s").alias("t")).alias("b"))
        .filter(F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            F.round(
                F.size(F.array_intersect("s", "t")).cast("double")
                / F.size("s").cast("double"),
                6,
            ).alias("c"),
        )
        .filter(F.col("c") >= 0.5)
        .collect()
    )
    want = {(r["i"], r["j"]): r["c"] for r in brute}
    assert got == want and len(got) > 0


from hypothesis import given, settings, strategies as st

FEW = settings(max_examples=5, deadline=None, derandomize=True)


@FEW
@given(
    fact=st.lists(
        st.tuples(st.integers(1, 4), st.integers(-50, 50)),
        min_size=1,
        max_size=25,
    ),
    ops=st.data(),
)
def test_minmax_incremental_law(spark, fact, ops):
    """Law: incremental_minmax_apply(full_agg(T), Δ, T′) == full_agg(T′)
    for random facts and random delete/update/insert batches."""
    from jibaro_spark.operators.cdc import incremental_minmax_apply

    n = len(fact)
    del_idx = ops.draw(st.sets(st.integers(0, n - 1), max_size=n))
    upd_idx = ops.draw(
        st.sets(
            st.sampled_from(sorted(set(range(n)) - del_idx))
            if len(del_idx) < n
            else st.nothing(),
            max_size=n - len(del_idx),
        )
    )
    inserts = ops.draw(
        st.lists(st.tuples(st.integers(1, 6), st.integers(-50, 50)), max_size=5)
    )
    changes, new = [], []
    for i, (k, v) in enumerate(fact):
        if i in del_idx:
            changes.append(("d", k, float(v), None))
        elif i in upd_idx:
            nv = float(v + 1000)
            changes.append(("u", k, float(v), nv))
            new.append((k, nv))
        else:
            new.append((k, float(v)))
    for k, v in inserts:
        changes.append(("c", k, None, float(v)))
        new.append((k, float(v)))
    if not changes:
        changes = [("c", 1, None, 0.0)]
        new.append((1, 0.0))

    fact_df = spark.createDataFrame(
        [(k, float(v)) for k, v in fact], "k int, v double"
    )
    agg = fact_df.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(F.col("v").cast("decimal(28,4)")).alias("min_v"),
        F.max(F.col("v").cast("decimal(28,4)")).alias("max_v"),
    )
    new_df = spark.createDataFrame(new, "k int, v double")
    changes_df = spark.createDataFrame(
        changes, "op string, k int, before_v double, after_v double"
    )
    out = incremental_minmax_apply(
        agg, changes_df, new_df, keys=["k"], value_col="v"
    )
    got = {
        r["k"]: (r["n"], float(r["min_v"]), float(r["max_v"]))
        for r in out.collect()
    }
    want = {
        r["k"]: (r["n"], float(r["min_v"]), float(r["max_v"]))
        for r in new_df.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(F.col("v").cast("decimal(28,4)")).alias("min_v"),
            F.max(F.col("v").cast("decimal(28,4)")).alias("max_v"),
        )
        .collect()
    }
    assert got == want, (got, want)


def test_containment_exact_ceiling_at_adversarial_threshold(spark):
    """τ·|A| can land 1 ulp above an integer in doubles
    (ceil(0.07·100) = 8 instead of 7), which would shorten the prefix
    and over-prune — a pair with containment exactly τ must survive.
    Doc A has exactly 100 distinct shingles; doc B shares exactly the
    7 interior trigrams of a 9-word run, so containment(A→B) = 0.07."""
    from jibaro_spark.operators.dedup import ngram_containment_pairs, shingles

    a_words = [f"wa{i}" for i in range(102)]  # 100 trigrams, all distinct
    run = a_words[10:19]  # 9 words → 7 interior trigrams
    b_words = [f"xb{i}" for i in range(40)] + run + [f"yb{i}" for i in range(40)]
    df = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, " ".join(b_words))],
        "doc_id long, text string",
    )
    # sanity: the fixture is what the docstring claims
    sizes = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id",
            F.size(F.array_distinct(shingles(F.col("text"), 3))).alias("n"),
        ).collect()
    }
    assert sizes[1] == 100
    rows = ngram_containment_pairs(df, "doc_id", "text", 3, 0.07).collect()
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in rows}
    assert got.get((1, 2)) == 0.07, got


@FEW
@given(data=st.data())
def test_containment_property_vs_brute(spark, data):
    """Property: on random small corpora of word sequences (with
    planted shared runs), prefix-filtered containment equals the
    brute-force all-pairs answer at a random threshold."""
    from jibaro_spark.operators.dedup import ngram_containment_pairs, shingles

    vocab = [f"w{i}" for i in range(30)]
    n_docs = data.draw(st.integers(3, 6))
    tau = data.draw(st.sampled_from([0.3, 0.5, 0.07, 0.8]))
    docs = []
    for i in range(n_docs):
        words = data.draw(
            st.lists(st.sampled_from(vocab), min_size=5, max_size=25)
        )
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(df, "doc_id", "text", 3, tau).collect()
    }
    sh = df.select(
        F.col("doc_id").alias("i"),
        F.array_distinct(shingles(F.col("text"), 3)).alias("s"),
    )
    brute = (
        sh.alias("a")
        .crossJoin(
            sh.select(F.col("i").alias("j"), F.col("s").alias("t")).alias("b")
        )
        .filter(F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            F.round(
                F.size(F.array_intersect("s", "t")).cast("double")
                / F.size("s").cast("double"),
                6,
            ).alias("c"),
        )
        .filter(F.col("c") >= tau)
        .collect()
    )
    want = {(r["i"], r["j"]): r["c"] for r in brute}
    assert got == want, (tau, got, want)
