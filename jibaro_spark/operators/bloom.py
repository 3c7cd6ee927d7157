"""Bloom-filter join pruning (J-family [ext]).

The 100 TB join problem this solves: a fact table too large to move
joins a dimension subset whose KEYS number in the millions — too many
to broadcast as a hash set, but a few KiB–MiB as a bloom filter.
Building the filter is one distributed pass over the dimension keys
(map-side ``bit_or`` partial aggregation, then a BOUNDED collect of
``num_bits/64`` words — 1024 rows at the default 2^16 bits, never
key-count-sized); probing is a map-only predicate on the fact side
(``xxhash64`` + a bit mask, whole-stage-codegen'd, no Python), so the
expensive exact join's shuffle moves only the surviving slice.

Exactness contract: the bloom is a PREFILTER, not the answer.

* ``left_semi``: bloom keeps every true match (no false negatives by
  construction) plus ~``fp_rate`` false positives; the exact semi join
  afterwards removes the false positives.  Result ≡ plain semi join.
* ``left_anti``: rows the bloom rejects are DEFINITELY non-matches and
  short-circuit straight into the output with no shuffle at all; only
  the bloom-positive slice (true matches + false positives) pays for
  the exact anti join.  Result ≡ plain anti join.

Either way the final answer is exact, which is what lets every query
built on this operator carry a plain-SQL oracle.

Reference parity: the reference engine relies on its storage layer's
row-group bloom indexes (no standalone operator to mirror); this is
the Spark-native equivalent for join pruning, complementing Spark's
own runtime row-level bloom (``spark.sql.optimizer.runtimeFilter``)
with an explicitly-sized, reusable filter the caller controls.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_BITS = 1 << 16
DEFAULT_NUM_HASHES = 5


def _positions(key: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """The ``num_hashes`` bit positions for a key: ``xxhash64`` of the
    key paired with the hash index (cheap independent-hash family),
    reduced mod ``num_bits``.  The SAME expression must be used at
    build and probe time — both call this helper, so they cannot
    drift.  Caller must present the key with the same TYPE on both
    sides (xxhash64 hashes the typed value, not its string form)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def _word_bit(pos: Column) -> "tuple[Column, Column]":
    """(word index, bit mask) of a bit position in the filter's 64-bit
    words — the layout shared, like :func:`_positions`, by every
    builder and prober: :func:`bloom_build` here and the per-file
    ``_bloom`` sidecars of ``jibaro_spark.maintenance``."""
    return (pos / 64).cast("int"), F.call_function(
        "shiftleft", F.lit(1).cast("bigint"), (pos % 64).cast("int")
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> list[int]:
    """Distributed bloom-filter build over ``keys[key_col]``.

    One narrow projection exploding each key to its ``num_hashes``
    (word, bit) pairs, then ``groupBy(word).agg(bit_or)`` — the
    aggregation is map-side-combined so the shuffle carries at most
    ``partitions × num_bits/64`` rows regardless of key count.  The
    collect is bounded by construction: exactly ``num_bits // 64``
    words (8 KiB of longs at the default), NOT by the data size.

    Returns the filter as a dense ``list[int]`` of ``num_bits // 64``
    signed 64-bit words (missing words zero-filled).
    """
    if num_bits % 64 != 0 or num_bits <= 0:
        raise ValueError(f"num_bits must be a positive multiple of 64, got {num_bits}")
    if num_hashes < 1:
        # 0 would silently build an empty filter whose probes are all
        # negative — a false-negative generator, the one failure mode
        # the operator's exactness contract cannot tolerate.
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    key = F.col(key_col)
    pos_rows = keys.select(
        F.explode(F.array(*_positions(key, num_bits, num_hashes))).alias("__pos")
    )
    word_idx, bit = _word_bit(F.col("__pos"))
    words = (
        pos_rows.select(word_idx.alias("__word_idx"), bit.alias("__bit"))
        .groupBy("__word_idx")
        .agg(F.bit_or("__bit").alias("__word"))
        .collect()
    )
    dense = [0] * (num_bits // 64)
    for r in words:
        dense[r["__word_idx"]] = r["__word"]
    return dense


def bloom_might_contain(
    key: Column,
    words: list[int],
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> Column:
    """Membership-test predicate column: true iff all ``num_hashes``
    bits for ``key`` are set in ``words``.  Pure JVM expression
    (array literal + ``element_at`` + a bit mask) — stays inside
    whole-stage codegen, usable directly in ``.filter`` or a join
    condition.  No false negatives; false-positive rate is the
    standard ``(1 - e^{-kn/m})^k``."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if num_bits % 64 != 0 or num_bits <= 0:
        raise ValueError(f"num_bits must be a positive multiple of 64, got {num_bits}")
    if len(words) != num_bits // 64:
        # A filter built at a different num_bits would make element_at
        # return NULL for out-of-range words → NULL probe predicate →
        # silently dropped rows: a false-negative generator, the one
        # failure mode this operator's contract forbids.  Mirror
        # bloom_build's guards and fail loudly instead.
        raise ValueError(
            f"bloom_might_contain: got {len(words)} words but num_bits="
            f"{num_bits} implies {num_bits // 64} — the filter was built "
            "with a different num_bits"
        )
    # Explicit array<bigint>: a small/empty filter would otherwise
    # infer array<int>, whose words hold only 32 bits.
    arr = F.lit(words).cast("array<bigint>")
    cond = None
    for pos in _positions(key, num_bits, num_hashes):
        word_idx, bit = _word_bit(pos)
        bit_set = F.element_at(arr, word_idx + 1).bitwiseAND(bit) != 0
        cond = bit_set if cond is None else (cond & bit_set)
    return cond


def bloom_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    how: str = "left_semi",
    num_bits: "int | None" = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Exact semi/anti join with bloom prefiltering of the fact side.

    ``left_semi``: fact rows surviving the bloom probe go through an
    exact semi join against the distinct dim keys — identical result
    to ``fact.join(dim, on, 'left_semi')`` with the shuffle reduced to
    the bloom-positive slice.

    ``left_anti``: bloom-negative fact rows are emitted directly
    (guaranteed non-matches, zero shuffle); only bloom-positive rows
    run the exact anti join.  Identical result to the plain anti join.

    ``num_bits=None`` sizes the filter to the dim side's DISTINCT key
    count (~10 bits/key at p≈1%, clamped to [2¹³, 2²⁴]) at the cost of
    one count job: a fixed width saturates when keys outnumber bits/10
    — every probe passes and the "prefilter" silently degrades to the
    plain join plus probe overhead (correct either way, by the
    exactness contract, but the pruning is gone).  The default stays
    2¹⁶ (fits ≤~6.5k keys) because the count job is not free; pass
    None when the dim key count is unknown at call time.
    """
    if how not in ("left_semi", "left_anti"):
        raise ValueError(f"how must be left_semi or left_anti, got {how!r}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if num_bits is None:
        import math as _math

        n_keys = dim.select(dim_key).distinct().count()
        num_bits = 1 << max(
            13, min(24, _math.ceil(_math.log2(max(10 * n_keys, 2))))
        )
    words = bloom_build(dim, dim_key, num_bits=num_bits, num_hashes=num_hashes)
    probe = bloom_might_contain(
        F.col(fact_key), words, num_bits=num_bits, num_hashes=num_hashes
    )
    # distinct() before the semi/anti join: the join result is
    # insensitive to right-side duplicates, but the map-side partial
    # dedup shrinks the join shuffle when dim keys repeat, and the
    # aggregate's hash partitioning on the key is REUSED by the join
    # (EnsureRequirements adds no second exchange) — so this costs no
    # extra shuffle and never moves more than the distinct key set.
    dim_keys = dim.select(dim_key).distinct()
    on = fact[fact_key] == dim_keys[dim_key]
    if how == "left_semi":
        return fact.filter(probe).join(dim_keys, on, "left_semi")
    definite_out = fact.filter(~probe)
    maybe = fact.filter(probe).join(dim_keys, on, "left_anti")
    return definite_out.unionByName(maybe)
