"""Dedup operator family.

``dedup_latest`` re-creates the reference's latest-per-key dedup
(``jibaro/datalake/cdc.py:132-142``): ``row_number() OVER (PARTITION BY
key ORDER BY ts DESC) == 1``.  The reference explicitly rejected
``drop_duplicates`` because it "only works if key stay in the same
partition" after an orderBy (``jibaro/datalake/avro_handler.py:29-30``)
— the window formulation is correct under shuffle and is what we keep.

The near-duplicate family (exact hash, MinHash+LSH, SimHash, n-gram
Jaccard, embedding cosine) lives in this module too — they are all
"dedup" to a pipeline author, differing only in the equivalence
relation.

Scale notes (100 TB):

* ``dedup_latest`` is one shuffle on the key columns; skewed keys are
  handled by AQE (enabled by session defaults).
* ``dedup_exact`` hashes the content column (xxhash64 → 64-bit) and
  keeps one row per hash via the same window — a single shuffle on the
  hash, never on the full text.
* MinHash-LSH banding turns all-pairs O(n²) into a self-join on
  (band_id, band_hash) buckets; bucket sizes are bounded by banding
  parameters, not data size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType
from pyspark.sql.window import Window

from jibaro_spark.operators.util import (
    dense_exchange,
    ensure_parallelism,
    local_frame,
    size_route,
)

_ROW_NUM = "__jibaro_rn"


def dedup_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
    descending: bool = True,
) -> DataFrame:
    """Keep the single most-recent row per key.

    Parity: reference ``cdc.py:132-142`` (ordering column there is the
    Kafka ``timestamp``; callers here pass any ordering columns, with
    trailing tiebreakers for determinism).

    NULL ordering is pinned to NULLS LAST in BOTH directions (DuckDB's
    default for ascending AND descending — verified empirically; note
    this differs from the Postgres NULL-largest convention) instead of
    Spark's NULL-smallest default, so a NULL in an ordering column
    picks the same representative row here and in the SQL twin of the
    dedup (NULL-fuzz sweep: a NULL-id duplicate used to win ascending
    groups under Spark's NULLS FIRST, and a NULL-timestamp event used
    to win "latest" under Spark's descending NULLS LAST... which is
    what DuckDB does too — but Spark desc IS nulls-last already; the
    ascending case was the flip).  Explicit on both directions so the
    contract survives engine-default changes.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ordering = (
        [c.desc_nulls_last() for c in cols]
        if descending
        else [c.asc_nulls_last() for c in cols]
    )
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn(_ROW_NUM, F.row_number().over(w))
        .filter(F.col(_ROW_NUM) == 1)
        .drop(_ROW_NUM)
    )


def dedup_exact(
    df: DataFrame,
    content_cols: Sequence[str],
    keep_order_col: str | None = None,
    normalize: bool = True,
    keep_by: Sequence[Column] | None = None,
) -> DataFrame:
    """Exact-duplicate removal by content hash (LLM-pipeline [ext]).

    Groups rows by a 64-bit ``xxhash64`` of the (optionally
    whitespace/case-normalized) content columns and keeps ONE row per
    group: the smallest ``keep_order_col`` (default), or — pass
    ``keep_by`` — the first row under an explicit mixed ordering, e.g.
    ``[F.length("text").desc(), F.col("doc_id").asc()]`` for the
    curation policy "keep the LONGEST raw variant of each normalized
    duplicate group, earliest id on ties".  Deterministic across
    engines and runs either way.  Hash collisions (~n²/2⁶⁴) are
    acceptable for dedup; callers needing certainty can pass the raw
    columns as extra group keys.
    """
    parts = [
        _normalized(F.col(c)) if normalize else F.col(c) for c in content_cols
    ]
    h = F.xxhash64(*parts)
    hashed = df.withColumn("__content_hash", h)
    if keep_by is not None:
        w = Window.partitionBy("__content_hash").orderBy(*keep_by)
        return (
            hashed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__content_hash")
        )
    if keep_order_col is None:
        raise ValueError("dedup_exact: pass keep_order_col or keep_by")
    return dedup_latest(
        hashed,
        keys=["__content_hash"],
        order_by=[keep_order_col],
        descending=False,
    ).drop("__content_hash")


def _normalized(col: Column) -> Column:
    """Lowercase + collapse whitespace — canonical text form for hashing."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array from a text column (native exprs only).

    ``split`` → ``transform`` over a ``sequence`` of start offsets →
    ``concat_ws`` per window.  Stays entirely in Tungsten codegen; no
    Python round-trip.

    The word array is bound ONCE per row via a 1-element-array lambda
    (``transform(array(split(...)), words -> ...)``): referencing the
    split expression directly inside the per-shingle lambda would
    re-run split+regex for every shingle (~50× per document).
    """

    def over(words: Column) -> Column:
        n_sh = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
        idx = F.sequence(F.lit(0), n_sh - 1)
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))

    return F.transform(F.array(F.split(_normalized(col), " ")), over)[0]


_MAX_LONG = (1 << 63) - 1


def minhash_signature(col: Column, num_hashes: int = 64, shingle_n: int = 3) -> Column:
    """MinHash signature (array<bigint>) of a text column.

    The ``num_hashes`` hash functions are ``xxhash64(shingle_hash, i)``
    for i in 0..k-1 — re-hashing the single per-shingle string hash
    with the slot index gives k independent full-avalanche hash
    functions (the k-independent-hashes MinHash variant).  A linear
    ``a*h + b`` "permutation" WITHOUT a modulus is monotone in h, which
    silently degenerates all k slots to the same argmin shingle — est
    similarity collapses to a 0/1 "share the min shingle" test; don't.

    Formulated as a SINGLE ``aggregate`` over the shingle-hash array
    with a ``num_hashes``-wide running-min accumulator.  The naive
    alternative — ``array(array_min(transform(base, h_i)) for i in
    0..63)`` — textually inlines the whole split→shingle→hash subtree
    64×; after project collapse into the band-explode lambda that
    becomes a ~10³-copy expression tree that takes Catalyst minutes to
    analyze (observed: 477 s vs ~13 s for this form at sf0.1).  Here
    the shingle array appears exactly once, so per-document cost is
    |shingles| string hashes + |shingles|·k integer hashes — pure
    native expressions, no UDF, no model state: the 100 TB formulation.
    """
    base = F.transform(
        F.array_distinct(shingles(col, shingle_n)),
        lambda s: F.xxhash64(s),
    )
    slots = F.expr(f"sequence(0, {num_hashes - 1})")
    return F.aggregate(
        base,
        F.expr(f"array_repeat({_MAX_LONG}L, {num_hashes})"),
        lambda acc, h: F.zip_with(acc, slots, lambda m, i: F.least(m, F.xxhash64(h, i))),
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    Pipeline: signature → split into ``bands`` bands of
    ``num_hashes // bands`` rows → hash each band → self-join on
    (band_idx, band_hash) → verify candidates with exact signature
    similarity (fraction of matching minhashes ≈ Jaccard).

    Returns pairs ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b``.

    Scale: the only join is on band buckets; with r rows per band the
    collision probability is s^r for Jaccard s, so bucket sizes stay
    small.  Signature verification happens on the joined pairs only.
    The band join carries ONLY (id, band_idx, band_hash) — signatures
    (num_hashes × 8 bytes each) are joined back to the deduplicated
    candidate pairs afterwards, so the wide arrays never enter the
    band shuffle (at 100 TB the 16-way band explode of a 512-byte
    signature would otherwise 8-KB-per-doc the shuffle).
    """
    rows_per_band = num_hashes // bands
    # exact-duplicate collapse FIRST (skew class r10): identical
    # normalized texts carry identical signatures (est_jaccard exactly
    # 1.0, every band collides), so signatures/banding/verify run once
    # per DISTINCT text and member pairs fan back out in output-bound
    # time — identical pairs, none of the O(cluster²) verify work
    reps, members = _exact_text_collapse(df, id_col, text_col)
    # Spread BEFORE the signature map, not before the collapse probe:
    # the per-row minhash fold is the CPU-dense stage (the spread wins
    # it 32-way), while spreading the collapse input would make the
    # construction-time stats probe pay the exchange too — each
    # eager/probe job re-executes it (measured +1-3 s per operator,
    # guide §2.4/§2.5).  Hash on the unique id keeps it deterministic.
    sig = ensure_parallelism(reps, by=id_col).select(
        F.col(id_col).alias("__id"),
        minhash_signature(F.col(text_col), num_hashes, shingle_n).alias("__sig"),
    )
    banded = sig.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        b, F.slice("__sig", b * rows_per_band + 1, rows_per_band)
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("__id", "band.band_idx", "band.band_hash")

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b")),
            "id_b",
        )
    )
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(num_hashes))
    )
    rep_pairs = (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    cross = _expand_member_pairs(rep_pairs, members, directed=False)
    if members is None:  # adaptive collapse: no exact duplicates
        return cross
    within = (
        _within_group_pairs(members, directed=False)
        .filter(F.lit(1.0) >= F.lit(jaccard_threshold))
        .select("id_a", "id_b", F.lit(1.0).alias("est_jaccard"))
    )
    return cross.unionByName(within)


#: Single-pass SimHash fold over a pre-computed ``__hashes``
#: array<bigint> column.  SQL text rather than the Column API because
#: the shift distance is a lambda variable (the PySpark ``shiftleft``
#: wrapper only accepts Python-int distances; the SQL function accepts
#: any expression).  One pass over the shingle hashes: a 64-counter
#: accumulator array, then a sign → bit fold.
_SIMHASH_SQL = """
aggregate(
  zip_with(
    aggregate(
      __hashes,
      transform(sequence(0, 63), x -> 0L),
      (acc, h) -> zip_with(
        acc, sequence(0, 63),
        (a, i) -> a + IF((shiftrightunsigned(h, CAST(i AS INT)) & 1L) = 1L, 1L, -1L))
    ),
    sequence(0, 63),
    (s, i) -> IF(s > 0L, shiftleft(1L, CAST(i AS INT)), 0L)
  ),
  0L, (a, v) -> a | v
)
"""


def with_simhash(
    df: DataFrame, text_col: str, out_col: str, shingle_n: int = 2
) -> DataFrame:
    """Add a 64-bit SimHash fingerprint column (Charikar scheme: per
    shingle hash, ±1 vote per bit, fingerprint bit = vote sign).
    Native exprs only — single pass over each document's shingles."""
    return (
        df.withColumn(
            "__hashes",
            F.transform(
                F.array_distinct(shingles(F.col(text_col), shingle_n)),
                lambda s: F.xxhash64(s),
            ),
        )
        .withColumn(out_col, F.expr(_SIMHASH_SQL))
        .drop("__hashes")
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_n: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs via 4-block LSH (pigeonhole on 16-bit
    blocks: any pair within Hamming distance 3 shares at least one of
    the 4 blocks exactly).  Join on (block_idx, block_value), verify
    with ``bit_count(xor)``.
    """
    # exact-duplicate collapse FIRST (skew class r10): identical
    # normalized texts carry identical fingerprints (hamming exactly 0,
    # every block collides), so the fingerprint/block-join/verify runs
    # once per DISTINCT text and member pairs expand output-bound
    reps, members = _exact_text_collapse(df, id_col, text_col)
    # spread before the CPU-dense per-row fingerprint fold, not before
    # the collapse probe (see minhash_near_duplicates for the why)
    fp = with_simhash(
        ensure_parallelism(reps, by=id_col)
        .select(F.col(id_col).alias("__id"), text_col),
        text_col,
        "__fp",
        shingle_n,
    ).select("__id", "__fp")
    blocks = fp.select(
        "__id",
        "__fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftrightunsigned(F.col("__fp"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF).cast("long"))
                        .alias("block_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("__id", "__fp", "b.block_idx", "b.block_val")
    a, b = blocks.alias("a"), blocks.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = _expand_member_pairs(rep_pairs, members, directed=False)
    if members is None:  # adaptive collapse: no exact duplicates
        return cross
    # symmetry with the threshold filters of the other collapsed
    # operators (ADVICE r10): exact duplicates sit at hamming 0, which
    # qualifies only when max_hamming >= 0 — a degenerate negative
    # max_hamming must return no pairs, as the uncollapsed join would
    within = (
        _within_group_pairs(members, directed=False)
        .filter(F.lit(0) <= F.lit(max_hamming))
        .select("id_a", "id_b", F.lit(0).cast("integer").alias("hamming"))
    )
    return cross.unionByName(within)


#: Cost thresholds for the COST-BASED collapse decision (r12, guide
#: §1.2 "the distributed algorithm" / §2.5 skew).  Relative to the
#: uncollapsed pipeline, collapsing trades the dup clusters' extra
#: work — Σ(c−1) redundant signature/shingle computations plus
#: Σc·(c−1) candidate/verify pair events — for ~3 extra
#: row-count-sized joins (members map, rep selection, member-pair
#: expansion) plus the within-group unions (measured 1.5-2.5 s per
#: operator at sf0.1).  Collapse therefore only pays when duplicate
#: VOLUME is material (non-representative copies above
#: ``_COLLAPSE_DUP_ROW_FRAC`` of rows — redundant signatures then
#: outweigh the fixed joins) or any single cluster is big enough that
#: its quadratic pair fan-out risks a straggler task / bucket blowup
#: (``_COLLAPSE_MAX_CLUSTER``² pair events in one band bucket; 256²
#: = 65k cheap compares is noise, 10^5² is the 100 TB killer the
#: collapse exists for).
_COLLAPSE_MAX_CLUSTER = 256
_COLLAPSE_DUP_ROW_FRAC = 0.10


def _exact_text_collapse(df: DataFrame, id_col: str, text_col: str):
    """ADAPTIVE exact-duplicate collapse for the pair-join family
    (adversarial-skew fuzz class, r10; made adaptive r11; made
    cost-based r12): group documents by ``md5`` of the NORMALIZED
    text — the exact input every shingle/simhash feature derives from —
    and keep one min-id representative per distinct text.

    A web-scale corpus always contains exact-duplicate clusters (one
    boilerplate page at 10^5 copies); without this collapse every
    candidate/verify stage of a similarity join pays O(cluster²) heavy
    work (measured: 2× corpus volume with one text at 50% of rows sent
    ngram/containment/simhash pair verification 13-24× up).  With it,
    the expensive machinery runs once per DISTINCT text, and member
    pairs are expanded afterwards in output-bound time — identical
    output, since every feature is a function of the normalized text.

    ADAPTIVITY (r11, cost-based r12): a duplicate-free corpus
    previously still paid the members join + eager checkpoint + the
    rep-selection join back onto the texts (~1.2 s fixed per operator
    at sf0.1).  Now one small fingerprint-statistics job (groupBy fp →
    min id + count, checkpoint of the per-distinct-text stats only)
    decides at construction time: unless the duplicate statistics
    cross the cost thresholds above — material duplicate volume or a
    quadratic-risk cluster — the caller's df IS the rep set and the
    member machinery is skipped entirely — ``members`` comes back as
    ``None`` and :func:`_expand_member_pairs` passes rep pairs through
    untouched.  Output is bit-identical in both regimes: the
    uncollapsed pipeline finds every exact-duplicate pair itself
    (identical texts ⇒ identical signatures/shingle sets ⇒ candidate
    in every scheme) and scores it exactly as the within-group
    expansion does (est_jaccard 64/64 = 1.0, hamming 0, J = n/n = 1.0,
    containment round(n/n, 6) = 1.0 — pinned for BOTH regimes on a
    dup-bearing corpus in ``tests/test_round12_collapse_cost.py``).

    CONSTRUCTION-TIME SIDE EFFECT (ADVICE r10): constructing any pair
    operator runs the one stats job above (it must — the plan branches
    on its answer).  The heavyweight members map is no longer
    materialized at construction: both checkpoints are lazy
    (``eager=False``) and compute at the first downstream action.
    ``localCheckpoint`` blocks are executor-pinned and non-reliable —
    a lost executor invalidates them and downstream actions fail
    (re-construct the operator); blocks are freed by Spark's
    ContextCleaner when the DataFrames are garbage-collected.

    Returns ``(reps, members)``: ``reps`` restricted to one doc per
    distinct text under the caller's original column names; ``members``
    maps ``__fp`` → (``__gid``, ``__rep``), or ``None`` when the corpus
    has no exact duplicates.  NULL-text docs keep a NULL fingerprint:
    NULL never equals NULL in the within-group self-join, and their
    representative produces no postings — exactly the uncollapsed
    pipeline's behavior.  (Two NULL-text docs share the NULL
    fingerprint group, so their presence routes to the collapsed path —
    harmless: the NULL group emits no postings and no within pairs.)
    """
    base = df.select(
        F.col(id_col).alias("__gid"), F.col(text_col).alias("__gtext")
    ).withColumn("__fp", F.md5(_normalized(F.col("__gtext"))))
    # representative per fingerprint via map-side-combinable MIN+COUNT —
    # not a window: the text column never shuffles by fingerprint.
    # stats is one row per DISTINCT text; checkpointing it (lazily —
    # the probe below is the materializing action) means every
    # downstream consumer joins against the computed aggregate instead
    # of re-running the groupBy.
    stats = (
        base.groupBy("__fp")
        .agg(F.min("__gid").alias("__rep"), F.count(F.lit(1)).alias("__cnt"))
        .localCheckpoint(eager=False)
    )
    # ONE decision aggregate (materializes the lazy checkpoint exactly
    # like the old existence probe did): biggest non-NULL cluster,
    # total rows, distinct texts, and the NULL-fingerprint group size.
    # A multi-doc NULL group keeps routing to the collapsed path (the
    # r11 routing: the collapsed pipeline is what pins "NULL texts
    # never pair", since the NULL rep's pairs drop in the members
    # join) — but a NULL group never counts toward the cost decision.
    nn = F.col("__fp").isNotNull()
    drow = stats.agg(
        F.max(F.when(nn, F.col("__cnt"))).alias("mx"),
        F.sum(F.when(nn, F.col("__cnt"))).alias("n"),
        F.count(F.when(nn, F.lit(1))).alias("d"),
        F.max(F.when(~nn, F.col("__cnt"))).alias("null_cnt"),
    ).first()
    mx = drow["mx"] or 0
    n_rows = drow["n"] or 0
    dup_rows = n_rows - (drow["d"] or 0)  # Σ(c−1): non-representative copies
    if (
        (drow["null_cnt"] or 0) <= 1
        and mx <= _COLLAPSE_MAX_CLUSTER
        and dup_rows <= _COLLAPSE_DUP_ROW_FRAC * n_rows
    ):
        # duplicate volume immaterial and no quadratic-risk cluster:
        # the uncollapsed pipeline is cheaper — skip the members map,
        # the rep-selection join, and the within unions
        return df, None
    groups = stats.select("__fp", "__rep")
    # members carries only (fp, gid, rep); NULL-fingerprint (NULL text)
    # docs drop out of nothing here — the NULL group's members emit no
    # within pairs (fp = NULL never equals itself in the self-join).
    members = (
        base.select("__fp", "__gid")
        .join(groups, "__fp")
        .localCheckpoint(eager=False)
    )
    reps = base.join(
        groups.select(F.col("__rep").alias("__gid")), "__gid"
    ).select(F.col("__gid").alias(id_col), F.col("__gtext").alias(text_col))
    return reps, members


def _expand_member_pairs(rep_pairs: DataFrame, members, directed: bool):
    """Fan verified representative pairs back out to all member pairs.
    Score columns ride along unchanged — they are functions of the
    (identical-within-group) texts.  Undirected output keeps the
    ``id_a < id_b`` convention via least/greatest.  ``members is None``
    (adaptive collapse, duplicate-free corpus) passes rep pairs through
    unchanged — ids are already the originals."""
    if members is None:
        return rep_pairs
    ma = members.select(F.col("__rep").alias("id_a"), F.col("__gid").alias("__ga"))
    mb = members.select(F.col("__rep").alias("id_b"), F.col("__gid").alias("__gb"))
    score_cols = [c for c in rep_pairs.columns if c not in ("id_a", "id_b")]
    joined = rep_pairs.join(ma, "id_a").join(mb, "id_b")
    if directed:
        pair = [F.col("__ga").alias("id_a"), F.col("__gb").alias("id_b")]
    else:
        pair = [
            F.least("__ga", "__gb").alias("id_a"),
            F.greatest("__ga", "__gb").alias("id_b"),
        ]
    return joined.select(*pair, *score_cols)


def _within_group_pairs(members: DataFrame, directed: bool) -> DataFrame:
    """All member pairs inside each exact-duplicate group (__rep kept
    for score joins).  Output-bound: no candidate or verify work."""
    cmp = (
        F.col("m1.__gid") != F.col("m2.__gid")
        if directed
        else F.col("m1.__gid") < F.col("m2.__gid")
    )
    return (
        members.alias("m1")
        .join(members.alias("m2"), (F.col("m1.__fp") == F.col("m2.__fp")) & cmp)
        .select(
            F.col("m1.__gid").alias("id_a"),
            F.col("m2.__gid").alias("id_b"),
            F.col("m1.__rep").alias("__rep"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via prefix filtering
    (AllPairs/PPJoin candidate generation — Bayardo et al., WWW'07).

    Each document's distinct shingles are ordered by ascending global
    document frequency (rarest first, shingle text as tie-break) and
    only the first ``|d| − ceil(threshold·|d|) + 1`` are indexed.  For
    any pair with ``J(A,B) ≥ threshold``, the globally-smallest shared
    shingle provably sits inside both prefixes (elements ordered before
    it in either doc are non-shared, and there are at most
    ``(1−τ)·|d|`` of them), so the prefix self-join generates every
    qualifying pair — no frequency cap, no missed pairs (ADVICE r1:
    the previous ``max_block`` pruning could drop pairs whose overlap
    was all high-frequency shingles).  Exact Jaccard on the full
    shingle sets then verifies each candidate.

    Scale: the rare-first ordering keeps hot shingles out of prefixes,
    so posting-list blocks stay small without correctness loss; the
    per-doc ranking window shuffles by doc id once.  Exact duplicates
    are collapsed FIRST (skew fuzz r10): the candidate/verify machinery
    runs over one representative per distinct normalized text, and
    member pairs fan back out afterwards — identical output (Jaccard is
    a function of the normalized texts; identical texts score exactly
    1.0, which the uncollapsed join also emits for every such pair).
    """
    reps, members = _exact_text_collapse(df, id_col, text_col)
    # sh feeds the posting index AND both verify joins; pin it once so
    # the rep-selection join + shingling never re-execute per consumer
    # (same branch-pinning discipline as ngram_containment_pairs).
    # Spread before the shingle map, not before the collapse probe
    # (see minhash_near_duplicates for the why).
    sh = ensure_parallelism(reps, by=id_col).select(
        F.col(id_col).alias("__id"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("__sh"),
    ).localCheckpoint(eager=True)
    posting = sh.select(
        "__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("shingle")
    )
    freq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("__id").orderBy("df", "shingle")
    # exact ceiling: double τ·n can land 1 ulp ABOVE an integral
    # product (ceil(0.07·100) = 8 in doubles), shortening the prefix
    # below the lossless bound and silently dropping qualifying pairs;
    # the decimal product is exact, so the ceiling is too
    prefix_len = (
        F.col("__n")
        - F.ceil(F.lit(threshold).cast("decimal(18,12)") * F.col("__n"))
        + 1
    )
    prefix = (
        posting.join(freq, "shingle")
        .withColumn("__pos", F.row_number().over(w))
        .filter(F.col("__pos") <= prefix_len)
        .select("__id", "shingle")
    )
    # dense_exchange (r12, guide §2.2/§2.5 — the ngram_containment_pairs
    # treatment): at low thresholds the prefixes cover most of each doc
    # (τ=0.3 → ~0.7·|d|), so the prefix self-join's pair fan-out and
    # the array_intersect/union verify below are extreme CPU-per-byte
    # stages that AQE's byte-based coalescing ran on a handful of
    # tasks; the explicit keyed exchanges plan the same shuffles the
    # joins need but keep full parallelism (per-shingle fan-out is
    # df-rank-prefix-bounded, so skipping AQE skew-splitting is safe).
    cand = (
        dense_exchange(prefix, "shingle").alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    with_sets = (
        dense_exchange(cand, "id_a")
        .join(sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    rep_pairs = (
        with_sets.withColumn(
            "jaccard", inter.cast("double") / union.cast("double")
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    cross = _expand_member_pairs(rep_pairs, members, directed=False)
    if members is None:  # adaptive collapse: no exact duplicates
        return cross
    # identical texts: J = n/n = exactly 1.0 (every non-null text has
    # ≥1 shingle — see shingles(); NULL fingerprints never self-join)
    within = (
        _within_group_pairs(members, directed=False)
        .filter(F.lit(1.0) >= F.lit(threshold))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within)


def minhash_signature_md5(
    col: Column, num_hashes: int = 16, shingle_n: int = 3
) -> Column:
    """Cross-engine-verifiable MinHash signature: slot ``i`` is the
    MINIMUM of ``md5(i || '|' || shingle)`` hex strings over the doc's
    distinct shingles; the signature collapses to one md5 of the
    comma-joined slots.

    This is the verifiable sibling of :func:`minhash_signature` (same
    pattern as ``rolling_hash_fingerprint``'s md5 mode): md5 hex
    compares identically in Spark/DuckDB/Trino/Postgres, so the WHOLE
    signature computation gets a SQL oracle — at ~3× the cost of the
    xxhash64 production path, which remains estimator-tested in pytest.
    The shingle array is bound once (see :func:`shingles`); each slot
    re-traverses the bound array, never the split/regex subtree.
    """

    def slot_min(sh: Column, i: int) -> Column:
        # NB: a 2-parameter lambda would make transform() pass the
        # array INDEX as the second arg — bind the slot constant via
        # closure, keep the lambda unary.
        prefix = F.lit(f"{i}|")
        return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(prefix, s))))

    def over(sh: Column) -> Column:
        return F.md5(
            F.concat_ws(",", *[slot_min(sh, i) for i in range(num_hashes)])
        )

    return F.transform(F.array(F.array_distinct(shingles(col, shingle_n))), over)[0]


def minhash_slots_md5(
    col: Column, num_hashes: int = 16, shingle_n: int = 3
) -> Column:
    """The md5 verifiable-mode signature as an ``array<string>`` of the
    per-slot minima (un-collapsed sibling of
    :func:`minhash_signature_md5` — same slot function, so the two
    modes agree slot-for-slot).  Feeds the fully-oracled banded-LSH
    pair pipeline, where bands hash slices of this array."""

    def slot_min(sh: Column, i: int) -> Column:
        prefix = F.lit(f"{i}|")
        return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(prefix, s))))

    def over(sh: Column) -> Column:
        return F.array(*[slot_min(sh, i) for i in range(num_hashes)])

    return F.transform(F.array(F.array_distinct(shingles(col, shingle_n))), over)[0]


def simhash_md5_bits(col: Column, shingle_n: int = 2, bits: int = 64) -> Column:
    """Cross-engine-verifiable SimHash: bit ``p`` of each shingle comes
    from nibble ``p//4`` of ``md5(shingle)`` hex; per-position ±1 votes
    fold to the fingerprint bit.  Returns the fingerprint as a
    ``bits``-char '0'/'1' string — identical in any engine with md5 +
    substring (the verifiable sibling of :func:`with_simhash`'s
    xxhash64 production path; same pattern as
    :func:`minhash_signature_md5`).

    The md5 array is computed ONCE per row (bind-once lambda); each of
    the ``bits`` vote-aggregates traverses the bound hex strings with
    scalar nibble ops only.  Bit positions are Python constants closed
    over unary lambdas — a default-arg capture would change the lambda
    arity and make Spark pass the array index instead.
    """

    if bits % 4 != 0:
        raise ValueError("bits must be a multiple of 4 (hex nibbles)")
    positions = F.sequence(F.lit(0), F.lit(bits - 1))
    shift_div = F.array(F.lit(8), F.lit(4), F.lit(2), F.lit(1))

    def bit_votes(nibs: Column) -> Column:
        # ±1 vote per bit position, from the pre-parsed nibble array —
        # arithmetic only, no per-bit string parsing
        def one(p: Column) -> Column:
            nib = F.get(nibs, F.floor(p / 4).cast("int"))
            sd = F.get(shift_div, (p % 4).cast("int"))
            bit = F.floor(nib / sd).cast("int") % 2
            return bit * 2 - 1

        return F.transform(positions, one)

    def over(nib_arr: Column) -> Column:
        votes = F.aggregate(
            nib_arr,
            F.expr(f"array_repeat(0, {bits})"),
            lambda acc, nibs: F.zip_with(acc, bit_votes(nibs), lambda a, b: a + b),
        )
        return F.array_join(
            F.transform(votes, lambda v: F.when(v > 0, "1").otherwise("0")), ""
        )

    # each shingle's md5 computed once (inner bind-once) and parsed
    # once into bits//4 nibble ints
    nibbles = F.transform(
        F.array_distinct(shingles(col, shingle_n)),
        lambda g: F.transform(
            F.array(F.md5(g)),
            lambda h: F.transform(
                F.sequence(F.lit(1), F.lit(bits // 4)),
                lambda j: F.conv(F.substring(h, j, 1), 16, 10).cast("int"),
            ),
        )[0],
    )
    return F.transform(F.array(nibbles), over)[0]


def _qgram_set(col: str, q: int):
    """Distinct padded q-grams of a string column, native exprs only
    (pad = ``q-1`` ``#`` on both ends, so every non-null string has at
    least one gram)."""
    pad = "#" * (q - 1)
    padded = f"concat('{pad}', {col}, '{pad}')"
    grams = F.expr(
        f"transform(sequence(1, greatest(length({padded}) - {q - 1}, 1)),"
        f" i -> substr({padded}, i, {q}))"
    )
    return F.array_distinct(grams)


#: Grid-salt routing bounds for the blocked edit-distance join (r13):
#: a block is "hot" only past BOTH an absolute floor (the verify is
#: quadratic in block size — 64k rows ≈ 4×10⁹ banded-levenshtein cells
#: in one task, minutes of single-core work) and a share bound (small
#: inputs never grid: the whole input fitting in one partition is not
#: skew).  Module-level so tests can lower the floor.
_EDJ_BLOCK_MAX_ABS = 65_536
_EDJ_BLOCK_SHARE = 2.0


def _block_join_skew_safe(
    l: DataFrame, r: DataFrame, left_id: str, right_id: str
) -> DataFrame:
    """Block equi-join for the edit-distance verify (see the call site
    for the full rationale).

    Below the hot-block bound it is the plain ``dense_exchange`` block
    join, decided by one keys-only ``size_route`` probe over both sides
    (map-side partial counts, routed per side).  Past it, the probe
    also returns the hot blocks — over either side's own bound — and
    only those go through a salt grid:

    * the grid is ``a×b`` with ``a = ⌊√n⌋``, ``b = ⌊n/a⌋``, so its
      ``a·b ≤ n`` cells fit the ``n`` exchange partitions; a left row
      takes row ``pmod(xxhash64(id), a)`` and is replicated over the
      ``b`` columns, a right row the other way round (deterministic
      salts, never ``rand()``), so each (l, r) pair meets in exactly
      one cell;
    * every cell has its own partition: the join key is
      ``(__blk, __cell)``, where ``__cell`` is a ``long`` picked per
      (hot block, cell) so that ``pmod(hash(__blk, __cell), n)`` — the
      expression hash partitioning evaluates — differs for every cell
      of the block.  A small collect over the hot keys × ``32·n``
      candidates takes the smallest key per partition; the keys reach
      the rows through a broadcast join on ``__blk``, cast on both
      sides to the type of their union;
    * rows of the other blocks take ``__cell = -1`` and are not
      replicated: one exchange per side serves both kinds of block.
    """
    import math

    spark = l.sparkSession
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    blocks = l.select("__blk").withColumn("__s", F.lit(0)).unionByName(
        r.select("__blk").withColumn("__s", F.lit(1))
    )
    route = size_route(
        blocks, ["__blk"], max_abs=_EDJ_BLOCK_MAX_ABS, share=_EDJ_BLOCK_SHARE,
        n_parts=n_parts, per=["__s"], hot_keys=True,
    )
    if route.plain:
        return dense_exchange(l, "__blk").join(r, ["__blk"])
    # both sides' block keys take the union's type: the cell keys are
    # placed by hashing it, and a join key cast on one side only would
    # make the planner stack its own exchange on the dense one
    blk = blocks.schema["__blk"]
    l, r = (
        df.withColumn("__blk", F.col("__blk").cast(blk.dataType)) for df in (l, r)
    )
    a = math.isqrt(n_parts)
    b = n_parts // a
    # per hot block, the smallest candidate key landing on each
    # partition (32·n candidates miss a given partition with odds
    # e⁻³²), then a·b of them in order: distinct per cell, padded with
    # spare keys past the candidates if a partition was missed
    tries = 32 * n_parts
    candidate = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(tries - 1).cast("long"))
    )
    spare = F.array(*[F.lit(v).cast("long") for v in range(tries, tries + a * b)])
    placed = (
        local_frame(spark, route.hot, StructType([blk]))
        .select("__blk", candidate.alias("__cell"))
        .groupBy("__blk", F.pmod(F.hash("__blk", "__cell"), F.lit(n_parts)))
        .agg(F.min("__cell").alias("__cell"))
        .groupBy("__blk")
        .agg(
            F.slice(
                F.concat(F.sort_array(F.collect_list("__cell")), spare), 1, a * b
            ).alias("__cells")
        )
        .collect()
    )
    cells = F.broadcast(local_frame(
        spark, placed, StructType([blk, StructField("__cells", ArrayType(LongType()))])
    ))

    def salted(df: DataFrame, id_col: str, k: int, scale: int, step: int):
        # a left row takes its grid row (salt·b + j, j < b), a right row
        # its column (salt + i·b, i < a); rows of the other blocks find
        # no cell keys and keep one key, -1.  Keys are long: the
        # placement hashed longs, and an int/long mismatch casts the
        # join key, so the planner stacks its own exchange on top of
        # the dense one
        found = F.col("__cells")
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(k)) * scale
        mine = F.transform(
            F.sequence(F.lit(0), F.lit(a * b // k - 1)),
            lambda j: F.get(found, (salt + j * step).cast("int")),
        )
        own = F.when(found.isNull(), F.array(F.lit(-1).cast("long"))).otherwise(mine)
        return (
            df.join(cells, "__blk", "left")
            .withColumn("__cell", F.explode(own))
            .drop("__cells")
        )

    keys = ["__blk", "__cell"]
    return (
        dense_exchange(salted(l, left_id, a, b, 1), *keys)
        .join(salted(r, right_id, b, 1, b), keys)
        .drop("__cell")
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_str: str,
    right_str: str,
    max_dist: int,
    block_on: tuple[str, str] | None = None,
    qgram: int | None = None,
    allow_cross_join: bool = False,
) -> DataFrame:
    """String-similarity join by edit distance: candidate generation
    by blocking key and/or q-gram prefix signature, cheap length
    prefilter, then exact Levenshtein verification — the classic
    filter-verify shape for distributed string joins (Ed-Join,
    VLDB'08: candidates from a coarse signature, exact check only on
    survivors).

    Candidate generation — at least one of these MUST be chosen
    (``ValueError`` otherwise; an unbounded cross join is never the
    default at 100 TB):

    - ``block_on=(left_key, right_key)``: candidates must share the
      key — turns the cross product into an equi-join shuffle whose
      fan-out is the block size; pick keys with bounded selectivity
      (brand, domain, simhash band, ...).
    - ``qgram=q``: LOSSLESS signature blocking with no domain key
      needed — the Ed-Join prefix filter (Xiao/Wang/Lin, VLDB'08).
      One edit destroys at most ``q`` padded q-grams, so strings
      within ``max_dist`` edits share a gram inside both of their
      ``max_dist*q + 1``-gram prefixes under ANY fixed total order on
      grams; candidates come from the gram-keyed inverted-index
      equi-join on those prefixes.  The order used is ascending
      document frequency (computed over both inputs in one extra
      bounded agg), so universal grams — padding, stop-grams — never
      enter a signature and no single inverted-index key fans out to
      the whole corpus.  The scale path when no natural blocking key
      exists.
    - ``allow_cross_join=True``: explicit opt-in for tiny inputs only.

    Then, in evaluation order: **length** prefilter
    (``|len(a) − len(b)| ≤ max_dist``, a free lower bound) and exact
    **verify** via native ``levenshtein`` (JVM codegen, no UDF) on the
    surviving candidates only.

    Returns ``(left_id, right_id, dist)`` plus the blocking key when
    ``block_on`` is given.  Callers dedupe/orient ids as needed.
    """
    if block_on is None and qgram is None and not allow_cross_join:
        raise ValueError(
            "edit_distance_join: choose a candidate strategy — block_on "
            "(domain key), qgram (lossless signature blocking), or opt "
            "in to the cross product with allow_cross_join=True"
        )
    lcols = [F.col(left_id), F.col(left_str).alias("__ls")]
    rcols = [F.col(right_id), F.col(right_str).alias("__rs")]
    if block_on is not None:
        lb, rb = block_on
        lcols.append(F.col(lb).alias("__blk"))
        rcols.append(F.col(rb).alias("__blk"))
    l = left.select(*lcols)
    r = right.select(*rcols)
    if qgram is not None:
        # document-frequency-ordered prefix signatures: one exploded
        # gram pass per side, one bounded gram→df agg over the union,
        # then each string keeps its max_dist*q+1 LEAST-frequent grams
        k1 = max_dist * qgram + 1
        lset = l.withColumn("__gs", _qgram_set("__ls", qgram))
        rset = r.withColumn("__gs", _qgram_set("__rs", qgram))
        lg = lset.select(*[c for c in lset.columns if c != "__gs"],
                         F.explode("__gs").alias("__g"))
        rg = rset.select(*[c for c in rset.columns if c != "__gs"],
                         F.explode("__gs").alias("__g"))
        freq = (
            lg.select("__g").unionByName(rg.select("__g"))
            .groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__df"))
        )
        # freq feeds BOTH sides' signature joins.  The differing side
        # aliases defeat ReuseExchange, so the union+agg runs twice —
        # measured CHEAPER than materializing it: a localCheckpoint
        # strips the agg's statistics, the gram joins fall back to
        # sort-merge (8.4 s → 10.8 s at sf0.1), while the recomputed
        # agg stays an AQE-sized broadcast on both sides.

        def prefixed(side: DataFrame, id_col: str) -> DataFrame:
            carry = [c for c in side.columns if c not in (id_col, "__g")]
            sig = (
                side.join(freq, "__g")
                .groupBy(id_col)
                .agg(
                    F.slice(
                        F.array_sort(F.collect_list(F.struct("__df", "__g"))),
                        1,
                        k1,
                    ).alias("__sig"),
                    *[F.first(c).alias(c) for c in carry],
                )
            )
            return sig.select(
                id_col, *carry, F.explode("__sig.__g").alias("__g")
            )

        lsig = prefixed(lg, left_id)
        rsig = prefixed(rg, right_id)
        on = ["__g"] + (["__blk"] if block_on is not None else [])
        # EXPLICIT gram-keyed exchange before the signature join (r12,
        # guide §2.2/§2.5): the fused join+verify stage is extreme
        # CPU-per-byte (banded levenshtein over the candidate fan-out),
        # and AQE's byte-based coalescing shrank it to 5-6 tasks on 32
        # cores at sf0.1.  dense_exchange plans the SAME exchange the
        # join needs — zero extra movement — but user-specified, so
        # the verify keeps full parallelism (measured 8.8 → ~3 s; the
        # df-ordered prefixes bound per-gram fan-out by construction,
        # so forgoing AQE skew-splitting here is safe).
        sig_pairs = dense_exchange(lsig, *on).join(rsig, on).drop("__g")
        # Prefix guarantee needs max(|Qa|,|Qb|) > max_dist*q: an edit
        # destroys ≤ q distinct grams, so overlap ≥ max−kq ≥ 1 and the
        # kq+1-prefixes must intersect (the small side's prefix is its
        # whole set).  Pairs where BOTH gram sets are ≤ kq — strings of
        # length ≲ q(k−1)+1 or degenerate repeats — escape it, so that
        # bucket pairs exhaustively on its own: it is bounded by the
        # alphabet (tiny strings) plus rare single-char repeats, never
        # corpus-sized.
        kq = max_dist * qgram
        lsmall = lset.filter(F.size("__gs") <= kq).drop("__gs")
        rsmall = rset.filter(F.size("__gs") <= kq).drop("__gs")
        small_pairs = (
            lsmall.join(rsmall, ["__blk"])
            if block_on is not None
            else lsmall.crossJoin(rsmall)
        )
        joined = sig_pairs.unionByName(small_pairs)
    else:
        on = ["__blk"] if block_on is not None else []
        # dense_exchange (r12, guide §2.2/§2.5): the block equi-join's
        # bytes are tiny but its fan-out feeds the levenshtein verify
        # (|block|² pairs — 16M at sf0.1 for the brand-blocked part
        # join), and AQE's byte-based coalescing ran it on 2-3 tasks.
        # The explicit block-keyed exchange is the same shuffle the
        # join needs at full parallelism.
        #
        # r13 skew safety (VERDICT r12 #4): dense_exchange opts out of
        # AQE skew-splitting, and this path previously TRUSTED the
        # caller's "bounded selectivity" contract — a skewed block key
        # at 100 TB would hot-spot one task with |block|² verify work
        # that even AQE could not rescue (skew-join splits by BYTES;
        # a CPU-quadratic block of short strings never trips the 256MB
        # threshold).  One bounded probe (the collapse-stats pattern,
        # guide §2.5) takes per-block max/total counts of BOTH sides in
        # a single keys-only aggregate.  Below the bound the join is the
        # plain dense block join.  Past it, only the hot blocks run on
        # an a×b salt grid (a·b ≤ n exchange partitions; DETERMINISTIC
        # salts pmod(xxhash64(id), ·), guide §2.5 forbids rand() keys),
        # and each cell gets its own partition through a long-typed
        # cell key, so a hot block's quadratic verify spreads over a·b
        # tasks; the other blocks' rows are not replicated.  Each
        # (l, r) pair matches exactly one cell → results identical
        # (pinned in tests/test_round13_edj_skew.py).
        if on:
            joined = _block_join_skew_safe(l, r, left_id, right_id)
        else:
            joined = l.crossJoin(r)
    # Thresholded levenshtein (Spark 3.5+): banded DP that early-exits
    # once the distance provably exceeds max_dist — O(k·n) per pair
    # instead of O(n·m), which is where candidate-heavy workloads
    # (near-identical strings) spend their verify time.  Returns -1
    # above the threshold, exact distance within it.
    d = F.levenshtein(F.col("__ls"), F.col("__rs"), max_dist)
    out = (
        joined.filter(
            F.abs(F.length("__ls") - F.length("__rs")) <= max_dist
        )
        .withColumn("dist", d)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )
    keep = [left_id, right_id, "dist"] + (
        ["__blk"] if block_on is not None else []
    )
    res = out.select(*keep)
    if qgram is not None:
        # A pair sharing several signature grams appears once per
        # shared gram; dedup AFTER the length + thresholded-verify
        # filters so the shuffle carries only verified pairs (~true
        # pair volume), not the full candidate fan-out — the verify is
        # map-side codegen and recomputing it on a duplicate candidate
        # is far cheaper than shuffling the candidate set (measured 2×
        # end-to-end on the digit-keyed customer-name workload).
        # dist is deterministic per pair, so post-verify dedup is
        # value-identical to pre-verify dedup.
        res = res.dropDuplicates([left_id, right_id])
    return (
        res.withColumnRenamed("__blk", "block")
        if block_on is not None
        else res
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Directed n-gram CONTAINMENT join: pairs with
    ``|A∩B| / |A| >= threshold`` — the asymmetric near-dup measure
    that catches a small document embedded inside a larger one
    (quotes, boilerplate wrapping, excerpting), which symmetric
    Jaccard structurally misses (a 50-shingle doc inside a
    5000-shingle doc has J ≈ 0.01 but containment 1.0).

    Candidate generation is the asymmetric prefix scheme: the PROBE
    side A indexes only its first ``|A| − ceil(τ·|A|) + 1`` shingles
    in rare-first global order (any qualifying pair shares at least
    ``ceil(τ·|A|)`` shingles, so A's prefix must contain a shared
    one), while the INDEX side B posts ALL its shingles — containment
    puts no lower bound on B's shared fraction, so B cannot be
    prefix-pruned.  Exact containment on the full shingle sets then
    verifies every candidate.  Pairs are DIRECTED (id_a contained in
    id_b); both directions can qualify independently.

    Scale: the A-side prefix keeps hot shingles out of the probe
    (rare-first order); the B-side inverted index is the inherent
    cost of containment semantics — its hot-shingle blocks are
    ordinary join skew (AQE skew-split), and the verify joins run on
    deduplicated candidates only.

    Reference scope: [ext] — the reference engine has no similarity
    surface (`/root/reference/jibaro/` is a lakehouse path/codec
    wrapper); containment complements this module's Jaccard /
    MinHash / SimHash / edit-distance family per the LLM-pipeline
    dedup mandate.
    """
    # sh feeds BOTH verify joins and positioned feeds BOTH sides of
    # the probe/index self-join; without pinning, the corpus is
    # re-shingled and the df-frequency join re-run per consumer
    # (exchange reuse does not cover the differently-filtered
    # branches).  Measured at sf0.1: 10.2 s unpinned → 6.3 s pinned,
    # identical output — the same branch-pinning discipline as
    # grouped_prefix_sum/global_row_number.
    reps, members = _exact_text_collapse(df, id_col, text_col)
    # exact duplicates collapse FIRST (skew fuzz r10): the asymmetric
    # candidate/verify machinery runs per DISTINCT normalized text;
    # member pairs fan back out afterwards — identical output, since
    # containment is a function of the two normalized texts and
    # identical texts score exactly 1.0 in both directions.
    # NO input spread here (unlike the minhash/simhash/jaccard ops):
    # shingling is cheap relative to the prefix-index joins, which are
    # parallel via their own exchanges anyway, and the r12 within-
    # session A/B measured the spread at +0.8-2.0 s for this operator
    # in every placement (before the collapse probe and before the
    # shingle map) while the sibling ops won 1.8-2.3 s each.
    sh = (
        reps.select(
            F.col(id_col).alias("__id"),
            F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("__sh"),
        )
        .localCheckpoint(eager=True)
    )
    posting = sh.select(
        "__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("shingle")
    )
    freq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("__id").orderBy("df", "shingle")
    # decimal product → exact ceiling (see ngram_jaccard_pairs note)
    prefix_len = (
        F.col("__n")
        - F.ceil(F.lit(threshold).cast("decimal(18,12)") * F.col("__n"))
        + 1
    )
    # every posting carries its rare-first position ONCE; the probe
    # side additionally prefix-filters
    positioned = (
        posting.join(freq, "shingle")
        .withColumn("__pos", F.row_number().over(w))
        .localCheckpoint(eager=True)
    )
    probe = positioned.filter(F.col("__pos") <= prefix_len).select(
        "__id", "__n", "__pos", "shingle"
    )
    index = positioned.select("__id", "__n", "__pos", "shingle")
    # decimal product for the same exact-ceiling reason as prefix_len
    need = F.ceil(
        F.lit(threshold).cast("decimal(18,12)") * F.col("a.__n")
    ).cast("int")
    # two lossless per-event prunes on top of the equi-join:
    # * length filter — |A∩B| ≥ ⌈τ|A|⌉ forces |B| ≥ ⌈τ|A|⌉;
    # * PPJoin positional filter — for the FIRST shared shingle in the
    #   global rare-first order, every other shared shingle sits after
    #   it in BOTH docs, so overlap ≤ 1 + min(|A|−posA, |B|−posB); a
    #   qualifying pair always keeps its first-shared-shingle event,
    #   so pruning the rest loses nothing.
    # Together they cut verify input 810k → 660k pairs on the sf0.1
    # fixture corpus — a modest 19%, and measurably so: that corpus
    # has a FLAT mid-frequency vocabulary (nearly every one of its
    # 27k shingles has df ≈ 10-100, max per-shingle event count 84),
    # so candidates are dominated by pairs sharing a single df≈30
    # shingle — a set no lossless filter can shrink, because sharing
    # one prefix shingle IS the candidate condition.  On a natural
    # Zipfian corpus the rare-first prefix is mostly df ≤ 2 shingles
    # and candidate precision is high; the positional prune then
    # removes the hot-gram tail events.
    # dense_exchange (r12, guide §2.2/§2.5): both the posting
    # self-join (pair fan-out generation) and the array_intersect
    # verify below are extreme CPU-per-byte stages that AQE's
    # byte-based coalescing shrank to ~5 tasks on 32 cores; the
    # explicit keyed exchanges plan the same shuffles the joins need
    # but keep full parallelism (per-shingle fan-out is prefix-bounded,
    # so skipping AQE skew-splitting is safe).
    cand = (
        dense_exchange(probe, "shingle").alias("a")
        .join(
            index.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.__id") != F.col("b.__id"))
            & (F.col("b.__n") >= need)
            & (
                F.lit(1)
                + F.least(
                    F.col("a.__n") - F.col("a.__pos"),
                    F.col("b.__n") - F.col("b.__pos"),
                )
                >= need
            ),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    with_sets = (
        dense_exchange(cand, "id_a")
        .join(
            sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    rep_pairs = (
        with_sets.withColumn(
            "containment",
            F.round(inter.cast("double") / F.size("sh_a").cast("double"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.size("sh_a").cast("long").alias("n_grams_a"),
            "containment",
        )
    )
    cross = _expand_member_pairs(rep_pairs, members, directed=True)
    if members is None:  # adaptive collapse: no exact duplicates
        return cross
    # identical texts: containment = round(n/n, 6) = exactly 1.0 both
    # directions; n_grams_a is the group's distinct shingle count
    sizes = sh.select(
        F.col("__id").alias("__rep"), F.size("__sh").cast("long").alias("n_grams_a")
    )
    within = (
        _within_group_pairs(members, directed=True)
        .filter(F.lit(1.0) >= F.lit(threshold))
        .join(sizes, "__rep")
        .select("id_a", "id_b", "n_grams_a", F.lit(1.0).alias("containment"))
    )
    return cross.unionByName(within)


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_cols: Sequence[str],
    window: int,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95):
    candidate pairs are records within ``window`` positions of each
    other under a total sort order — the classic entity-resolution
    blocking method for typo-adjacent keys, complementary to the
    equi-key blocking of :mod:`operators.linkage` (which misses
    near-miss keys) and the signature schemes (minhash/q-gram) in this
    module.

    Distributed shape: the global rank comes from
    :func:`operators.relational.global_row_number` (range-repartition +
    per-partition offsets — NO single-partition window), ranks are
    bucketed at ``⌊(rn−1)/window⌋``, and a pair within ``window``
    positions spans at most two ADJACENT buckets, so candidates come
    from two keyed equi-joins (bucket b ⋈ b, b ⋈ b+1) filtered to
    ``0 < rn_b − rn_a ≤ window``.  Per-bucket work is O(window²), total
    O(n·window) — linear in n for fixed window, and the sort itself is
    the same exchange a global ORDER BY plans.

    Ties in ``sort_cols`` MUST be broken by ``id_col`` (appended
    automatically) for the rank — and hence the candidate set — to be
    deterministic.  Returns ``(id_a, id_b, rank_dist)`` with
    ``id_a``/``id_b`` in rank order.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from jibaro_spark.operators.relational import global_row_number

    # cost-based ranking (r13, the r12 ntile/row-number routing): the
    # count probe routes under-floor inputs through the native window
    # instead of the chunked form's 3 jobs; corpus-sized inputs keep
    # the range-partition form.  The LAZY pin matters in the plain
    # route: ranked feeds BOTH sides of the bucket self-join below,
    # and without it each side re-runs the global window.
    ranked = global_row_number(
        df.select(id_col, *sort_cols), [*sort_cols, id_col], out_col="__rn"
    ).select(
        id_col, "__rn", F.expr(f"(__rn - 1) div {window}").alias("__b")
    ).localCheckpoint(eager=False)
    left = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("__rn").alias("__rna"),
        F.col("__b").alias("__ba"),
    )
    right = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col("__rn").alias("__rnb"),
        F.col("__b").alias("__bb"),
    )
    same = left.join(right, F.col("__ba") == F.col("__bb"))
    nxt = left.join(right, F.col("__ba") + 1 == F.col("__bb"))
    return (
        same.unionByName(nxt)
        .where(
            (F.col("__rnb") > F.col("__rna"))
            & (F.col("__rnb") - F.col("__rna") <= window)
        )
        .select(
            "id_a", "id_b", (F.col("__rnb") - F.col("__rna")).alias("rank_dist")
        )
    )


# Gram positions per exploded chunk row in duplicated_char_spans: big
# enough that chunking overhead (one O(n) substring seek per chunk) is
# noise, small enough that the per-row transient char/struct arrays
# stay KB-scale whatever the document size.
_SPAN_CHUNK = 8192


def duplicated_char_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
    min_docs: int = 2,
    chunking: str = "adaptive",
) -> DataFrame:
    """Cross-document duplicated character spans — the distributed
    form of ExactSubstr training-data dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022): find every
    maximal run of characters that appears verbatim in at least
    ``min_docs`` distinct documents, as the union of overlapping
    duplicated ``k``-grams.

    The sentence/MinHash/SimHash lanes in this module catch
    document-level near-duplication; THIS catches verbatim boilerplate
    and quotation spans buried inside otherwise-unique documents — the
    memorization vector the paper targets with a suffix array.  The
    distributed approximation replaces the suffix array with the
    standard k-gram hash join:

    1. explode each document into its ``len−k+1`` character k-grams
       with positions — map-side, O(total chars) rows, no shuffle;
    2. doc-frequency per gram (one keyed agg with map-side combine);
       grams with ``>= min_docs`` distinct docs are duplicated;
    3. semi-join positions against duplicated grams (keyed on the
       gram) — duplicated positions only survive;
    4. merge overlapping-or-adjacent positions per document into
       maximal spans (gaps-and-islands under a PER-DOCUMENT window —
       bounded by document length, never corpus-sized).

    At 100 TB the shuffle key is the k-gram itself (k bytes); swapping
    in ``xxhash64(gram)`` halves shuffle bytes at a ~2⁻⁶⁴ collision
    risk per pair — kept exact here so the result is oracle-checkable.
    Stop-gram skew (a boilerplate gram appearing in millions of docs)
    is bounded by the agg in step 2 being a count, never a list; the
    position rejoin fans out exactly as much as the true duplication
    volume, which is the answer itself.

    Returns ``(id_col, span_start, span_end, span_chars,
    n_dup_grams)``, positions 1-based inclusive.

    ``chunking`` (r12, VERDICT r11 #5 — the adaptive-plan discipline
    of ``_exact_text_collapse``): ``"adaptive"`` (default) runs a
    one-row ``max(length(text))`` probe at CONSTRUCTION (the only
    construction-time action; the plan branches on its answer) and
    takes the pre-chunking plan — direct per-position k-grams, no
    chunk rows, no text copy per chunk — whenever every document fits
    in one chunk (``max_len <= _SPAN_CHUNK + k - 1``), where the
    chunk scaffolding buys nothing and costs ~1 s on a small-doc
    bench corpus.  ``"always"``/``"never"`` force a regime (tests pin
    bit-identity across both).  A corpus with even one over-chunk
    document takes the chunked plan for ALL documents — per-document
    plan routing would split the gram exchange in two.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if chunking not in ("adaptive", "always", "never"):
        raise ValueError(
            f"chunking must be adaptive|always|never, got {chunking!r}"
        )
    # Build the (pos, gram) structs INSIDE a transform over the
    # position sequence, then explode the struct array: the document
    # text is referenced once per document, never carried (and
    # re-serialized) on every exploded gram row.  The explode fans out
    # ~len(text) rows per document, so an under-partitioned input
    # (one small parquet file) must spread BEFORE the fan-out —
    # deterministic hash partitioning on the id so the two consumers
    # of `grams` (doc-frequency agg, position rejoin) reuse one
    # exchange instead of re-exploding from a round-robin shuffle.
    # a NULL id cannot contribute doc frequency (countDistinct skips
    # NULLs) so it must not receive spans either
    src = df.select(id_col, text_col).filter(F.col(id_col).isNotNull())
    if chunking == "adaptive":
        row = (
            src.where(F.length(text_col) >= k)
            .agg(F.max(F.length(text_col)).alias("m"))
            .first()
        )
        max_len = row["m"] if row is not None else None
        chunking = (
            "never"
            if max_len is not None and max_len <= _SPAN_CHUNK + k - 1
            else "always"
        )
    if chunking == "never":
        # pre-chunking plan: every document is a single chunk, so the
        # per-position substring's seek cost is already bounded by
        # document length — emit grams directly (one explode, no chunk
        # rows, no per-chunk text copy).  Same gram rows, same
        # downstream plan.
        grams = ensure_parallelism(
            src.where(F.length(text_col) >= k), by=[id_col]
        )
        grams = grams.select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - {k - 1}), "
                    f"i -> struct(i AS pos, "
                    f"substring({text_col}, i, {k}) AS g))"
                )
            ).alias("__pg"),
        ).select(
            id_col,
            F.col("__pg.pos").cast("long").alias("pos"),
            F.col("__pg.g").alias("__gram"),
        )
        return _merge_dup_spans(grams, id_col, k, min_docs)
    # Two-level fan-out (bigval class, r11).  The direct form —
    # ``transform(sequence(1, n-k+1), i -> substring(text, i, k))`` —
    # is O(n²) per document: Spark's UTF8String substring seeks code
    # points from the string START on every call (measured 232 s for
    # ONE 300k-char document; the bigval fixture's 1.5 MB document
    # never finished).  Instead: (1) cut the text into overlapping
    # chunk rows of ``_SPAN_CHUNK`` gram positions (+k-1 tail overlap
    # so every gram is whole in exactly one chunk) — ceil(n/C) seeks of
    # O(n) each = O(n²/C), ~0.3 s at 1.5 MB; (2) per chunk, split to a
    # char array ONCE (bound as a column, never re-evaluated inside the
    # lambda) and build each gram with an O(k) array slice.  Total
    # O(n·k) per document, and the transient per-row array is
    # chunk-sized, not document-sized — a multi-MB document neither
    # quadratics a task nor holds a document-sized struct array.
    chunks = (
        src.where(F.length(text_col) >= k)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform("
                    f"sequence(1, length({text_col}) - {k - 1}, {_SPAN_CHUNK}), "
                    f"s -> struct(s AS off, "
                    f"substring({text_col}, s, {_SPAN_CHUNK + k - 1}) AS ct))"
                )
            ).alias("__ch"),
        )
        .select(id_col, "__ch.off", "__ch.ct")
    )
    # spread at CHUNK granularity, not document granularity: keyed on
    # (id, off) a multi-MB document's chunks fan across tasks instead
    # of serializing its whole gram fan-out on one core (bigval r11 —
    # measured 2.8× band overshoot with doc-keyed spreading).  Still
    # exactly one deterministic exchange feeding both gram consumers.
    chunks = ensure_parallelism(chunks, by=[id_col, "off"])
    # WITHIN a chunk, per-position substring is fine: its seek cost is
    # bounded by the chunk length, so a document of any size pays
    # O(len·C/2) total instead of O(len²) — and a ≤C-char document
    # takes exactly the pre-chunking plan (one chunk, same substring
    # windows, no char-array/split/concat allocation: the slice-based
    # gram build measured 2.8× on the sf0.1 bench corpus of ~1 KB docs
    # where the quadratic never bites).
    grams = chunks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, least({_SPAN_CHUNK}, length(ct) - {k - 1})), "
                f"j -> struct(off + j - 1 AS pos, substring(ct, j, {k}) AS g))"
            )
        ).alias("__pg"),
    ).select(
        id_col,
        F.col("__pg.pos").cast("long").alias("pos"),
        F.col("__pg.g").alias("__gram"),
    )
    return _merge_dup_spans(grams, id_col, k, min_docs)


def _merge_dup_spans(
    grams: DataFrame, id_col: str, k: int, min_docs: int
) -> DataFrame:
    """Steps 2-4 of :func:`duplicated_char_spans` (shared by both the
    chunked and pre-chunking gram builds): doc-frequency per gram,
    semi-join duplicated positions, merge into maximal spans."""
    dup = (
        grams.groupBy("__gram")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__gram")
    )
    hits = grams.join(dup, "__gram").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = (
        hits.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new",
            (
                F.col("__prev").isNull() | (F.col("pos") > F.col("__prev") + k)
            ).cast("long"),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return isl.groupBy(id_col, "__isl").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
        (F.max("pos") + (k - 1) - F.min("pos") + 1).cast("long").alias("span_chars"),
        F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
    ).drop("__isl")
