"""Relational extensions the reference delegates to Spark (SURVEY §2.4)
plus the [ext] joins Spark lacks natively: as-of and range joins.

All formulations are join + window / bucketed-equi-join — no
correlated subqueries, no driver loops — so they survive a 100×
scale-up as ordinary shuffles that AQE can re-plan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jibaro_spark.operators.util import size_route


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    right_tiebreak: str,
    how: str = "inner",
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the single best-matching right
    row for the same key (J4 [ext]), with pandas-``merge_asof`` /
    kdb-``aj`` direction semantics:

    * ``backward`` (default) — latest right with ``rt <= lt``;
    * ``forward`` — earliest right with ``rt >= lt``;
    * ``nearest`` — right minimizing ``|rt − lt|`` (ties break toward
      the EARLIER right row, then ``right_tiebreak`` — pinned, not
      engine-dependent).

    Formulation — UNION-SCAN, not join-then-rank (skew probe r10): the
    previous equi-join with a time conjunct materialized every
    left×right pair per key BEFORE ranking — L·R rows on a hot key
    (measured: 64× wall at 2× volume once one user carried 50% of
    events).  Instead both sides union into one stream sorted per key
    by (time, side, tiebreak) and a single running
    ``last(right_payload, ignorenulls)`` window carries the
    best-so-far right row onto each left row — one shuffle,
    O(n log n) sort, ZERO pair expansion; a hot key costs a sorted
    partition scan, linear in its row count.  ``nearest`` runs one
    ascending and one descending pass over the same partitioning and
    picks the closer candidate per left row (ties toward the earlier
    right, then min ``right_tiebreak`` — pinned, not
    engine-dependent).

    CONTRACT CHANGES vs the pre-r10 join-then-rank form (r10 rewrite;
    noted for external callers — all in-repo call sites are
    unaffected):

    * ``how`` is now restricted to ``inner``/``left`` (previously any
      Spark join type was passed through to the underlying join);
    * ``nearest`` no longer lets a NULL-time right row win a tie (the
      old gap-NULL sorted first under ascending nulls-first) and a
      NULL-left-time row no longer matches anything — NULL-key or
      NULL-time rows on either side are fenced out up front, which is
      the saner, test-pinned semantics
      (``tests/test_round10_skew_guards.py``).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"asof_join: unsupported how {how!r}")
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"asof_join: unknown direction {direction!r}")
    lcols = list(left.columns)
    rcols = [c for c in right.columns if c != right_on]
    # NULL fences mirror the join formulation: a NULL-key or NULL-time
    # right row can never match; a NULL-key/NULL-time left row matches
    # nothing (guarded below) but survives how='left'.
    rtag = right.filter(
        F.col(right_on).isNotNull() & F.col(right_time).isNotNull()
    ).select(
        F.col(right_on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.col(right_tiebreak).alias("__tb"),
        F.struct(*[F.col(c) for c in rcols]).alias("__rpay"),
        F.lit(0).alias("__side"),
    )
    tb_t = rtag.schema["__tb"].dataType
    rpay_t = rtag.schema["__rpay"].dataType
    ltag = left.select(
        F.col(left_on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(None).cast(tb_t).alias("__tb"),
        F.lit(None).cast(rpay_t).alias("__rpay"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in lcols]).alias("__lpay"),
    )
    u = rtag.withColumn(
        "__lpay", F.lit(None).cast(ltag.schema["__lpay"].dataType)
    ).unionByName(ltag)

    # ONE shared group-size probe for every carry (r13, VERDICT r12
    # #6): a probe per carry was measured a net loss here —
    # ``nearest`` runs TWO carries, so two probe jobs outweighed the
    # chunked forms they replaced.  Instead the union frame is pinned
    # (lazy — the probe's count job materializes it and the carries
    # read cached blocks instead of re-running the filter/union) and
    # probed ONCE; both carries reuse the decision, which is exact:
    # they range over the same frame and the same __k groups, only the
    # sort direction differs.  Balanced keys route through plain
    # windows — and the two windows of ``nearest`` hash-partition on
    # the same __k, so the second reuses the first's exchange.  A hot
    # key keeps the chunked stitch.
    u = u.localCheckpoint(eager=False)
    route_plain = size_route(
        u, ["__k"], max_abs=_CARRY_PLAIN_MAX_ABS, share=_CARRY_PLAIN_SHARE,
        n_parts=u.sparkSession.sparkContext.defaultParallelism,
    ).plain

    # Ordering invariant: within equal __t, rights (side 0) precede
    # lefts (side 1) so inclusive <=/>= semantics hold; among equal
    # (__t, side) rights, the PREFERRED row sorts LAST (it is what the
    # running last() carries).
    asc = [F.col("__t").asc_nulls_first(), F.col("__side").asc()]
    desc = [F.col("__t").desc_nulls_last(), F.col("__side").asc()]

    def carry(u_df: DataFrame, order, out: str) -> DataFrame:
        # CHUNK-PARALLEL carry (VERDICT r10 #3): a plain
        # Window.partitionBy(key) puts a hot key's entire history in
        # ONE task — linear after the r10 union-scan rewrite, but
        # still a single-task sort of 50% of the input at extreme
        # skew.  grouped_running_carry range-partitions on
        # (key, time, side, tiebreak), so a hot key spreads across
        # chunks and the per-chunk carries stitch with a ≤ #chunks-row
        # offset window per key.  A NULL left time matches nothing in
        # any direction (same fence as the window form).
        c = grouped_running_carry(
            u_df, ["__k"], order, last_cols=["__rpay"], last_out=[out],
            route_plain=route_plain,
        )
        return c.withColumn(
            out, F.when(F.col("__t").isNotNull(), F.col(out))
        )

    if direction == "backward":
        # latest rt <= lt; among equal rt prefer MAX tiebreak (asc ends at max)
        u = carry(u, asc + [F.col("__tb").asc()], "__c")
    elif direction == "forward":
        # earliest rt >= lt; among equal rt prefer MIN tiebreak (desc ends at min)
        u = carry(u, desc + [F.col("__tb").desc()], "__c")
    else:  # nearest: both passes prefer MIN tiebreak (original tie order)
        u = carry(u, asc + [F.col("__tb").desc()], "__cb")
        u = carry(u, desc + [F.col("__tb").desc()], "__cf")
        lt = F.col("__t").cast("double")
        gb = lt - F.col("__cb").getField(right_time).cast("double")
        gf = F.col("__cf").getField(right_time).cast("double") - lt
        u = u.withColumn(
            "__c",
            F.when(
                F.col("__cb").isNotNull()
                & (F.col("__cf").isNull() | (gb <= gf)),
                F.col("__cb"),
            ).otherwise(F.col("__cf")),
        )
    out = u.filter(F.col("__side") == 1)
    if how == "inner":
        out = out.filter(F.col("__c").isNotNull())
    return out.select(
        *[F.col(f"__lpay.{c}").alias(c) for c in lcols],
        *[F.col(f"__c.{c}").alias(c) for c in rcols],
    )


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    bucket_width: int,
    extra_key: tuple[str, str] | None = None,
) -> DataFrame:
    """Point-in-interval range join via bucketing (J4 [ext]).

    Each right interval is exploded to the buckets it overlaps; the
    left point joins on its bucket, then the exact containment filter
    runs on the (small) per-bucket candidate set.  Turns an O(n·m)
    theta join into an equi-join — the standard distributed range-join
    strategy (cf. interval-join in stream processors).
    """
    lb = left.withColumn(
        "__bucket", (F.col(left_point).cast("long") / bucket_width).cast("long")
    )
    rb = right.withColumn(
        "__buckets",
        F.sequence(
            (F.col(right_start).cast("long") / bucket_width).cast("long"),
            (F.col(right_end).cast("long") / bucket_width).cast("long"),
        ),
    ).withColumn("__bucket", F.explode("__buckets")).drop("__buckets")
    cond = (F.col(f"l.__bucket") == F.col("r.__bucket")) & (
        F.col(f"l.{left_point}") >= F.col(f"r.{right_start}")
    ) & (F.col(f"l.{left_point}") <= F.col(f"r.{right_end}"))
    if extra_key is not None:
        lk, rk = extra_key
        cond = cond & (F.col(f"l.{lk}") == F.col(f"r.{rk}"))
    return (
        lb.alias("l")
        .join(rb.alias("r"), cond)
        .drop("__bucket")
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number window (O4 [ext])."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def exact_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probs: Sequence[tuple[float, str]],
) -> DataFrame:
    """Exact interpolated quantiles (type-7 / SQL ``percentile`` /
    DuckDB ``quantile_cont``) per group, in a scale-friendly shape.

    Spark's builtin exact ``percentile`` buffers every raw value per
    group and merges the buffers single-threaded per group — at 100 TB
    (or even 600k rows × 3 groups) the merge IS the query.  This
    formulation aggregates ``(group, value) → count`` first (parallel,
    partial-agg friendly), runs the cumulative window over the far
    smaller distinct-value set, and reads each quantile off the
    cumulative counts:

        h = (n-1)·p;  v = v_lo + (h - ⌊h⌋)·(v_hi - v_lo)

    where ``v_lo``/``v_hi`` are the values whose cumulative count
    first reaches ``⌊h⌋+1`` / ``⌊h⌋+2``.  Identical interpolation to
    the builtin — results hash-match the DuckDB oracle.

    ``probs`` is ``[(p, out_name), ...]``; adds ``lo``/``hi`` min/max
    columns for free.
    """
    gcols = list(group_cols)
    vc = df.groupBy(*gcols, value_col).agg(F.count(F.lit(1)).alias("__c"))
    wcum = (
        Window.partitionBy(*gcols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*gcols)
    d = vc.withColumn("__cum", F.sum("__c").over(wcum)).withColumn(
        "__n", F.sum("__c").over(wall)
    )
    aggs = [
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
        F.first("__n").alias("__n"),
    ]
    for p, name in probs:
        h = (F.col("__n") - 1) * F.lit(p)
        lo_idx = F.floor(h) + 1
        aggs.append(
            F.min(F.when(F.col("__cum") >= lo_idx, F.col(value_col))).alias(
                f"__{name}_lo"
            )
        )
        aggs.append(
            F.min(F.when(F.col("__cum") >= lo_idx + 1, F.col(value_col))).alias(
                f"__{name}_hi"
            )
        )
    out = d.groupBy(*gcols).agg(*aggs)
    for p, name in probs:
        h = (F.col("__n") - 1) * F.lit(p)
        frac = h - F.floor(h)
        v_lo = F.col(f"__{name}_lo")
        v_hi = F.coalesce(F.col(f"__{name}_hi"), v_lo)
        out = out.withColumn(name, v_lo + frac * (v_hi - v_lo))
    drop = ["__n"] + [c for _, n in probs for c in (f"__{n}_lo", f"__{n}_hi")]
    return out.drop(*drop)


def exact_quantiles_bucketed(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probs: Sequence[tuple[float, str]],
    buckets: int = 1024,
    materialize: bool = True,
    discrete: bool = False,
) -> DataFrame:
    """Exact interpolated quantiles for CONTINUOUS value columns, via
    two-pass histogram refinement — no full sort, no large window.

    :func:`exact_quantiles` compresses via ``(group, value) → count``,
    which works when values repeat but degrades to a near-full
    single-threaded-per-group window sort on continuous data (the sf0.1
    fixture: 583k distinct prices in 600k rows).  This variant is the
    selection-algorithm form every engine uses for exact distributed
    quantiles:

    1. per-group ``(n, min, max)`` — one parallel scan;
    2. histogram: bucket each value into ``buckets`` equi-width bins,
       count per bin (map-side partial agg → ``groups × buckets`` rows),
       cumulative-sum the tiny histogram, locate the bin holding each
       target rank ``⌊(n−1)p⌋+1`` / ``+2``;
    3. re-scan, keep only rows in target bins (broadcast semi join —
       ~``n/buckets`` rows per group), rank them with a window over
       those few rows, read off the exact values; interpolate
       ``v = v_lo + (h−⌊h⌋)·(v_hi−v_lo)`` (type-7, identical to the
       builtin / DuckDB ``quantile_cont``).

    Three parallel scans, shuffles bounded by ``groups × buckets`` —
    the shape that survives 100 TB.  Degenerate duplicate-heavy bins
    only cost extra candidate rows, never correctness.  Group count
    must be broadcastable (true for any GROUP BY you'd quantile).
    Output schema matches :func:`exact_quantiles`.
    """
    gcols = list(group_cols)
    nb = F.lit(buckets)
    v = F.col(value_col)

    # The three passes re-consume the same 2-column projection.
    # ``materialize=True`` (default — right when the input is an
    # expensive upstream pipeline) snapshots it with localCheckpoint:
    # blocks are freed by the ContextCleaner once the plan is
    # unreferenced, unlike a cache() entry which leaks in the cache
    # manager for the session lifetime (ADVICE r2).  Pass
    # ``materialize=False`` when the input is a direct columnar scan /
    # deterministic exchange: Catalyst re-scans with column pruning and
    # reuses deterministic exchanges across the passes, which beats
    # writing the projection out (measured at sf0.1: 1.7 s vs 1.9 s,
    # and one fewer eager job).
    proj = df.select(*gcols, value_col)
    if materialize:
        proj = proj.localCheckpoint(eager=True)

    stats = proj.groupBy(*gcols).agg(
        F.count(value_col).alias("__n"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )
    d = proj.join(F.broadcast(stats), gcols)
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            nb - 1,
            F.floor((v - F.col("lo")) / ((F.col("hi") - F.col("lo")) / nb)).cast(
                "int"
            ),
        )
    )
    db = d.withColumn("__b", bucket)
    hist = db.groupBy(*gcols, "__b").agg(F.count(F.lit(1)).alias("__c"))
    wb = Window.partitionBy(*gcols).orderBy("__b")
    cum = (
        hist.withColumn("__cum", F.sum("__c").over(wb))
        .join(F.broadcast(stats.select(*gcols, "__n")), gcols)
    )

    def rank_exprs():
        for p, name in probs:
            if discrete:
                # quantile_disc / percentile_disc semantics: smallest
                # value whose cumulative share ≥ p — rank ⌈n·p⌉ ≥ 1
                yield name, "lo", F.greatest(
                    F.ceil(F.col("__n") * F.lit(p)), F.lit(1)
                )
            else:
                h = (F.col("__n") - 1) * F.lit(p)
                r_lo = F.floor(h) + 1
                yield name, "lo", r_lo
                yield name, "hi", r_lo + 1

    # per rank: first bin with cum ≥ r, carrying the count before it
    targets = cum.groupBy(*gcols).agg(
        *[
            F.min(
                F.when(
                    F.col("__cum") >= r,
                    F.struct(
                        F.col("__b").alias("b"),
                        (F.col("__cum") - F.col("__c")).alias("before"),
                    ),
                )
            ).alias(f"__t_{name}_{s}")
            for name, s, r in rank_exprs()
        ]
    )
    tcols = [f"__t_{name}_{s}" for name, s, _ in rank_exprs()]
    cand_bins = (
        targets.select(
            *gcols, F.explode(F.array(*[F.col(c) for c in tcols])).alias("t")
        )
        .select(*gcols, F.col("t.b").alias("__b"), F.col("t.before").alias("__before"))
        .filter(F.col("__b").isNotNull())
        .distinct()
    )

    wr = Window.partitionBy(*gcols, "__b").orderBy(value_col)
    ranked = (
        db.join(F.broadcast(cand_bins), gcols + ["__b"])
        .withColumn("__rank", F.col("__before") + F.row_number().over(wr))
    )
    picks = [
        F.first("__n").alias("__n"),
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
    ]
    for name, s, r in rank_exprs():
        picks.append(
            F.min(F.when(F.col("__rank") == r, v)).alias(f"__{name}_{s}")
        )
    out = ranked.groupBy(*gcols).agg(*picks)
    for p, name in probs:
        if discrete:
            out = out.withColumn(name, F.col(f"__{name}_lo"))
        else:
            h = (F.col("__n") - 1) * F.lit(p)
            frac = h - F.floor(h)
            v_lo = F.col(f"__{name}_lo")
            v_hi = F.coalesce(F.col(f"__{name}_hi"), v_lo)
            out = out.withColumn(name, v_lo + frac * (v_hi - v_lo))
    drop = ["__n"] + [f"__{n}_{s}" for n, s, _ in rank_exprs()]
    return out.drop(*drop)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join via key salting (the manual complement
    to AQE's skew-join splitting, for when one hot key dominates a
    partition beyond what AQE re-planning fixes).

    The left (skewed) side gets a random salt in [0, salt); the right
    side is EXPLODED ``salt``× so every salted left key finds its
    match.  Join key becomes (key, salt) — the hot key's rows spread
    over ``salt`` reducers.  Right-side replication cost: |right| ×
    salt rows — use for dimension-sized right sides.

    ``rand`` is seeded for deterministic plans.  Results are
    row-identical to the plain join for ``how`` in {inner, left,
    left_semi, left_anti} — each left row carries exactly one salt, so
    left-side multiplicity is preserved.  Right/full outer joins are
    rejected: an unmatched right row would surface once per salt copy
    (ADVICE r1); salt the other side instead (swap the operands).
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)} (got {how!r}): the exploded "
            "right side would emit unmatched right rows salt times under "
            "right/full outer joins — swap operands to salt the other side"
        )
    salted_l = left.withColumn(
        "__salt", (F.rand(seed=42) * salt).cast("int")
    )
    salted_r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = salted_l.join(
        salted_r,
        # frame-qualified refs: left_on/right_on may share a name
        (salted_l[left_on] == salted_r[right_on])
        & (salted_l["__salt"] == salted_r["__salt"]),
        how,
    )
    return out.drop(salted_l["__salt"]).drop(salted_r["__salt"])


def partitioned_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
    chunk_width: int = 8192,
) -> DataFrame:
    """Running total over a global ordering WITHOUT a global window.

    ``SUM() OVER (ORDER BY x)`` with no PARTITION BY collapses the
    whole input into one window partition — the classic single-task
    bottleneck at scale.  This is the textbook two-level distributed
    prefix sum instead:

    1. chunk rows by ``⌊order/chunk_width⌋`` and cumsum WITHIN chunks
       (parallel windows, ~``chunk_width`` rows each);
    2. cumsum the per-chunk totals (one tiny window over #chunks rows);
    3. broadcast the chunk offsets back and add.

    Requires ``order_col`` numeric with unique values (a surrogate id;
    ties would make "running total" ill-defined anyway).  Result is
    row-identical to the single-partition window — the oracle for
    every query built on it.
    """
    cid = F.floor(F.col(order_col) / F.lit(chunk_width)).alias("__chunk")
    d = df.withColumn("__chunk", cid)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # chunk totals: #chunks rows — the only non-partitioned window,
    # over data ~chunk_width× smaller than the input
    w_tot = (
        Window.orderBy("__chunk").rowsBetween(
            Window.unboundedPreceding, Window.currentRow - 1
        )
    )
    offsets = (
        d.groupBy("__chunk")
        .agg(F.sum(value_col).alias("__chunk_sum"))
        .withColumn("__offset", F.coalesce(F.sum("__chunk_sum").over(w_tot), F.lit(0)))
        .select("__chunk", "__offset")
    )
    return (
        d.withColumn("__local", F.sum(value_col).over(w_in))
        .join(F.broadcast(offsets), "__chunk")
        .withColumn(out_col, F.col("__local") + F.col("__offset"))
        .drop("__chunk", "__local", "__offset")
    )


def skyline_2d(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
    chunk_width: float = 1024.0,
) -> DataFrame:
    """Pareto frontier (skyline) over two dimensions — distributed.

    Keeps rows NOT dominated, where row *b* dominates *a* iff
    ``b.min_col <  a.min_col and b.max_col >= a.max_col`` or
    ``b.min_col <= a.min_col and b.max_col >  a.max_col``
    (weakly better in both, strictly better in one).  Exact duplicates
    on both dimensions survive together.

    The naive formulation is a NOT EXISTS self-join — quadratic.  In
    2-D the frontier test reduces to prefix maxima along the sorted
    ``minimize_col`` axis: *a* is dominated iff
    ``max(max_col | min_col < a) >= a.max_col`` or
    ``max(max_col | min_col <= a) > a.max_col``.  Those prefix maxima
    are computed with the same two-level chunked scheme as
    :func:`partitioned_prefix_sum` — per-value group max, chunked
    local cummax (parallel windows), one tiny window over #chunks
    chunk totals, broadcast offsets — so there is NO single-partition
    window over the data and the whole operator is two shuffles
    (group-by value, join back) at any scale.
    """
    vmax = df.groupBy(F.col(minimize_col).alias("__v")).agg(
        F.max(maximize_col).alias("__vmax")
    )
    d = vmax.withColumn("__chunk", F.floor(F.col("__v") / F.lit(float(chunk_width))))
    w_le = (
        Window.partitionBy("__chunk")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lt = (
        Window.partitionBy("__chunk")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    w_off = Window.orderBy("__chunk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = (
        d.groupBy("__chunk")
        .agg(F.max("__vmax").alias("__chunk_max"))
        .withColumn("__offset", F.max("__chunk_max").over(w_off))
        .select("__chunk", "__offset")
    )
    # one row per distinct minimize value: since the chunk key is a
    # function of __v, every strictly-lower value lives in this chunk's
    # strict ROWS-predecessors or in a strictly-lower chunk (__offset)
    pref = (
        d.withColumn("__le_loc", F.max("__vmax").over(w_le))
        .withColumn("__lt_loc", F.max("__vmax").over(w_lt))
        .join(F.broadcast(offsets), "__chunk")
        .select(
            F.col("__v"),
            F.greatest(F.col("__le_loc"), F.coalesce(F.col("__offset"), F.col("__le_loc"))).alias("__m_le"),
            F.when(
                F.col("__lt_loc").isNull(), F.col("__offset")
            ).otherwise(
                F.greatest(F.col("__lt_loc"), F.coalesce(F.col("__offset"), F.col("__lt_loc")))
            ).alias("__m_lt"),
        )
    )
    joined = df.join(pref, df[minimize_col] == pref["__v"])
    dominated = (
        F.col("__m_lt").isNotNull() & (F.col("__m_lt") >= F.col(maximize_col))
    ) | (F.col("__m_le") > F.col(maximize_col))
    return joined.filter(~dominated).drop("__v", "__m_le", "__m_lt")


def zorder_value(*cols: Column, bits: int = 16) -> Column:
    """Morton / Z-order interleave of N non-negative integer keys: bit
    ``i`` of column ``j`` lands at z-bit ``i·N + j`` (for two columns
    this is the classic 2i/2i+1 interleave, unchanged from the 2-col
    form this generalizes — VERDICT r4 §Next-6).  Pure shift/mask
    arithmetic — stays inside whole-stage codegen and has identical
    semantics in any engine (the oracle uses ``//``/``%`` arithmetic
    on the same constants).

    Z-ordering is the multi-dimensional data-layout primitive: sort or
    range-partition by ``zorder_value(a, b, c)`` before writing, and
    range scans filtered on ANY subset of the keys touch a small,
    contiguous subset of files — the locality that single-column sort
    gives only to its leading key.  This is the engine-native
    equivalent of Delta's ``OPTIMIZE ZORDER BY`` (reference's Delta
    maintenance surface, SURVEY §2.2 K11 family; interop target
    ``lake_lab/trino/catalog/delta.properties:1-9``).

    ``bits × N`` must fit a signed long (≤ 62); keys wider than
    ``bits`` bits should be bucketed/shifted down first (standard
    OPTIMIZE practice — Z-order on raw 64-bit keys wastes the
    interleave on never-set high bits).
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_value: need at least 2 columns")
    if bits * n > 62:
        raise ValueError(
            f"zorder_value: bits×cols = {bits * n} exceeds signed-long range"
        )
    z: Column = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            z = z + F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)) * F.lit(
                2 ** (i * n + j)
            )
    return z


def layout_zorder(
    df: DataFrame,
    *key_cols: str,
    num_partitions: int,
    bits: int = 16,
) -> DataFrame:
    """Range-partition + sort ``df`` by the Z-value of N keys, ready
    for a partitioned/bucketed write.  Every output partition then
    covers a compact hyperrectangle-ish region of key space, so file
    skipping (min/max stats, partition pruning) works for predicates
    on any key at 100 TB — one extra shuffle at write time buys it.
    """
    zed = df.withColumn(
        "__z", zorder_value(*[F.col(c) for c in key_cols], bits=bits)
    )
    return (
        zed.repartitionByRange(num_partitions, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
) -> DataFrame:
    """Deterministic weighted sample of ``n`` rows by **priority
    sampling** (Duffield–Lund–Thorup): each row gets a priority
    ``q = u / w`` where ``u`` is a uniform derived from ``md5(id)``
    and ``w`` the weight; the bottom-``n`` priorities are the sample,
    and inclusion probability is ∝ weight (heavier rows sample-in
    more often).  Rows with ``w <= 0`` are excluded.

    Design notes for the 100 TB path and the cross-engine oracle:

    * No RNG state — the uniform is the first 13 hex chars of
      ``md5(id)``, so the sample is reproducible across engines,
      partitionings and reruns (same property as the md5 split/
      stratified samplers).
    * No transcendentals — classic Efraimidis–Spirakis keys need
      ``u^(1/w)``/``log``, whose last-ulp behavior differs across
      libm implementations; priority sampling needs one IEEE
      division, which is correctly rounded everywhere.
    * Physically this is a global bottom-k: map-side per-partition
      top-k then a single-partition merge of k candidates
      (TakeOrderedAndProject) — no full shuffle, no sort of the
      corpus.

    Returns ``(id_col, weight_col, priority)`` for the ``n`` sampled
    rows.
    """
    # u_int in [0, 16^13): exact in a double (< 2^52); +0.5 keeps u
    # strictly inside (0, 1) so zero priorities cannot occur.
    hex13 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 13)
    u = (F.conv(hex13, 16, 10).cast("double") + F.lit(0.5)) / F.lit(
        float(16**13)
    )
    w = F.col(weight_col).cast("double")
    return (
        df.filter(w > 0)
        .select(
            F.col(id_col),
            F.col(weight_col),
            (u / w).alias("priority"),
        )
        .orderBy("priority", id_col)
        .limit(n)
    )


def priority_sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    n_per_group: int,
) -> DataFrame:
    """Deterministic weighted sample of ``n_per_group`` rows PER GROUP
    by priority sampling — the grouped sibling of
    :func:`priority_sample` (see its docstring for the md5-uniform /
    no-transcendental determinism argument).  Physically a per-group
    bottom-k: rank window partitioned by the group, so each group's
    state is its own partition — at 100 TB this is one shuffle on the
    group key and never a global sort.

    Returns ``(group_col, id_col, weight_col, priority)`` for the
    sampled rows.  Rows with ``w <= 0`` are excluded.
    """
    hex13 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 13)
    u = (F.conv(hex13, 16, 10).cast("double") + F.lit(0.5)) / F.lit(
        float(16**13)
    )
    w = F.col(weight_col).cast("double")
    win = Window.partitionBy(group_col).orderBy("priority", id_col)
    return (
        df.filter(w > 0)
        .select(
            F.col(group_col),
            F.col(id_col),
            F.col(weight_col),
            (u / w).alias("priority"),
        )
        .withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    num_partitions: int | None = None,
    out_col: str = "__rn",
    with_count: bool = False,
) -> "DataFrame | tuple[DataFrame, int]":
    """Exact 1-based global row number under a total order WITHOUT a
    single-partition window ([ext] scale primitive).

    ``Window.orderBy(...)`` with no partition key — what a naive
    global ``row_number``/``ntile`` compiles to — moves the ENTIRE
    dataset into one task.  This does it distributed, the
    zipWithIndex pattern on DataFrames: range-repartition + local sort
    (the same physical shape as a global ORDER BY), count rows per
    range partition (one metadata-sized aggregate; the bounded collect
    is #partitions rows), broadcast the cumulative offsets back, and
    add ``offset + local row number`` with a window PARTITIONED by the
    range-partition id — every step parallel, ties MUST be broken by
    ``order_cols`` (include a unique id) for the number to be
    deterministic.

    Cost-based (r12, same routing as :func:`ntile_exact`): a
    groupless :func:`size_route` probe (one ``count()``) routes inputs
    under the single-task sort floor (``_CARRY_PLAIN_MAX_ABS`` rows)
    through a plain ``row_number().over(Window.orderBy(...))`` — one
    stage instead of the 3 jobs above (range sampling, eager
    checkpoint, offset collect).  Bit-identity pinned in
    tests/test_round12_ntile_adaptive.py.  The probe re-executes the
    input subtree, so callers feed it a pinned or cheap frame.

    ``with_count=True`` (r13, ADVICE r12 #3) returns ``(df, n)`` —
    BOTH routes already know the exact row count (the probe counts;
    the chunked route sums its per-partition counts), so a caller that
    also needs N (decile formulas, rank-fraction mapping) reuses it
    instead of paying a second count job over the same subtree.
    """
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    route = size_route(
        df, (), max_abs=_CARRY_PLAIN_MAX_ABS, share=_CARRY_PLAIN_SHARE,
        n_parts=n_parts,
    )
    if route.plain:
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        # nullif against an impossible value (row_number >= 1) keeps
        # the column NULLABLE like the chunked route's offset-map add
        out = df.withColumn(
            out_col,
            F.nullif(F.row_number().over(w).cast("long"), F.lit(-1)),
        )
        return (out, route.total) if with_count else out
    numbered, total = _global_row_number_with_total(
        df, order_cols, n_parts, out_col
    )
    return (numbered, total) if with_count else numbered


def _global_row_number_with_total(
    df: DataFrame,
    order_cols: Sequence[str],
    num_partitions: int | None,
    out_col: str,
) -> tuple[DataFrame, int]:
    cols = [F.col(c) for c in order_cols]
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    s = (
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__gpid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["__gpid"]: r["cnt"]
        for r in s.groupBy("__gpid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        # empty input: no partitions counted — emit the (empty) frame
        # with the column typed correctly
        return s.withColumn(out_col, F.lit(None).cast("long")).drop("__gpid"), 0
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("__gpid").orderBy(*cols)
    numbered = s.withColumn(
        out_col,
        (off_map[F.col("__gpid")] + F.row_number().over(w)).cast("long"),
    ).drop("__gpid")
    return numbered, acc


def ntile_exact(
    df: DataFrame,
    k: int,
    order_cols: Sequence[str],
    out_col: str = "__ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """SQL ``NTILE(k)`` semantics (first ``n % k`` buckets get the
    extra row) computed from :func:`global_row_number` — i.e. without
    the single-partition window Spark's native ``ntile`` requires.
    The row count the bucket formula needs is taken from the same
    bounded per-partition count pass.

    Cost-based (r12, the carry/prefix-sum routing pattern — guide
    §1.2): a groupless :func:`size_route` probe (one ``count()``)
    routes inputs under the single-task sort floor
    (``_CARRY_PLAIN_MAX_ABS`` rows) through the native ``NTILE(k)``
    window — one stage, none of the chunked form's range-sampling
    pass, eager checkpoint, or offset collect (3 jobs per call;
    q_rfm_segments would pay them three times).  The two routes are
    the same function by the SQL NTILE definition (bit-identity pinned
    in tests/test_round12_ntile_adaptive.py).  The probe re-executes
    whatever sits below it, so callers feed it a pinned or cheap input
    (the adaboost cells lesson).
    """
    if k < 1:
        raise ValueError(f"ntile_exact: k must be >= 1, got {k}")
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if size_route(
        df, (), max_abs=_CARRY_PLAIN_MAX_ABS, share=_CARRY_PLAIN_SHARE,
        n_parts=n_parts,
    ).plain:
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        # nullif against a value NTILE can never produce (it is >= 1)
        # keeps the column NULLABLE like the chunked route's output —
        # consumers' schemas (e.g. q_rfm_segments' segment) must not
        # change with the route.
        return df.withColumn(
            out_col,
            F.nullif(F.ntile(k).over(w).cast("long"), F.lit(-1)),
        )
    rn, n = _global_row_number_with_total(df, order_cols, n_parts, "__rn")
    q, r = divmod(n, k)
    threshold = (q + 1) * r
    # integer `div` throughout — double division would misplace bucket
    # boundaries once row numbers exceed 2^53
    bucket = F.when(
        F.col("__rn") <= F.lit(threshold),
        F.expr(f"(__rn - 1) div {q + 1}"),
    ).otherwise(
        F.lit(r) + F.expr(f"(__rn - 1 - {threshold}) div {max(q, 1)}")
    )
    return rn.withColumn(out_col, (bucket + 1).cast("long")).drop("__rn")


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: "str | Sequence[str]",
    out_col: "str | Sequence[str]" = "__cum",
    num_partitions: int | None = None,
    total_cols: "Sequence[str] | None" = None,
    broadcast_totals: bool = True,
    route_plain: bool = False,
) -> DataFrame:
    """Exact per-group running sum of ``value_col`` under
    ``order_cols`` WITHOUT a per-group single-task scan ([ext] scale
    primitive; the grouped-sum sibling of :func:`global_row_number`).

    ``Window.partitionBy(group).orderBy(...)`` puts each group's
    ENTIRE history in one task — fine for many small groups, a
    straggler when a group is corpus-sized (a hot key's event stream,
    a 3-value status column over 10^11 rows).  This computes the same
    number chunked:

    1. range-repartition + local sort on ``group_cols + order_cols``
       (groups may straddle chunk boundaries — step 3 repairs that);
    2. local running sums per ``(chunk, group)`` — parallel windows,
       each bounded by chunk size;
    3. per-(group, chunk) totals (one map-combined aggregate), turned
       into per-(group, chunk) STARTING OFFSETS by a window over the
       ≤ #chunks rows each group owns — parallel across groups, never
       a driver collect (unlike :func:`global_row_number`'s bounded
       #partitions-row map, the offset table here is group-keyed and
       stays distributed);
    4. join offsets back on ``(group, chunk)`` and add.

    Two keyed shuffles instead of one single-task scan.  The caller
    MUST make ``order_cols`` total within each group (include a unique
    id): ties would make both this and the plain window
    nondeterministic.  NULL group keys are handled (null-safe offset
    join, NULLs group together as in the plain window), and NULLABLE
    value columns keep the plain window's running-sum NULL contract
    (NULL iff the whole preceding frame is NULL — ADVICE r11 #1).
    ``value_col`` should be integer/decimal typed
    if a bit-exact cross-engine result is required — chunked double
    addition has a different rounding order than a sequential scan.

    ``value_col``/``out_col`` also accept equal-length sequences to
    compute several running sums in ONE pass (same two shuffles, one
    offset join) — a caller needing cumsum(n) and cumsum(npos) under
    the same order should never pay the pipeline twice.

    ``total_cols`` (one name per value col) additionally stamps each
    row with its GROUP TOTAL, derived from the per-chunk totals the
    pipeline already owns (a ≤ groups×chunks-row aggregate, broadcast
    back) — callers needing running sums AND totals (ECDFs, cumulative
    shares) get both from one pass instead of re-scanning the input,
    and without a whole-group unordered window (a per-group-one-task
    stage, the exact shape this operator exists to avoid).  The totals
    table has one row per GROUP: the default ``broadcast_totals=True``
    is right for bounded group domains (features, statuses, priority
    classes); pass ``False`` for a high-cardinality group key so the
    rejoin runs as a keyed shuffle join instead of materializing every
    group on every executor.

    ``route_plain=True`` computes the same columns with plain
    ``Window.partitionBy(group)`` windows instead — cheaper when no
    group is hot.  The operator never probes: the caller decides with
    :func:`~jibaro_spark.operators.util.size_route` over
    ``_CARRY_PLAIN_MAX_ABS`` / ``_CARRY_PLAIN_SHARE``, once per frame,
    and may reuse one decision for several calls over the same key
    groups (asof's two ``nearest`` carries, AdaBoost's second round).
    """
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vcols) != len(outs):
        raise ValueError(
            f"grouped_prefix_sum: {len(vcols)} value cols vs {len(outs)} out cols"
        )
    if total_cols is not None and len(total_cols) != len(vcols):
        raise ValueError(
            f"grouped_prefix_sum: {len(vcols)} value cols vs "
            f"{len(total_cols)} total cols"
        )
    gcols = [F.col(c) for c in group_cols]
    ocols = [F.col(c) for c in order_cols]
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if route_plain:
        # plain-window route: when no group exceeds the hot-key bound,
        # the plain windows are balanced and skip the range sampling
        # pass, the eager checkpoint, the chunk-total aggregation, and
        # the offset join.  Identical values and NULL contract — the
        # chunked form's combine exists precisely to reproduce the
        # plain window (pinned in tests/test_round12_carry_adaptive.py's
        # prefix-sum case).
        run_w = (
            Window.partitionBy(*gcols)
            .orderBy(*ocols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = df
        for vc, oc in zip(vcols, outs):
            out = out.withColumn(oc, F.sum(vc).over(run_w))
        if total_cols is not None:
            tot_w = Window.partitionBy(*gcols)
            for vc, tc in zip(vcols, total_cols):
                out = out.withColumn(tc, F.sum(vc).over(tot_w))
        return out
    # Pin the range exchange (same discipline as _global_row_number_
    # with_total): the `local` branch and the `chunk_tot`/offsets
    # branch BOTH derive from `s` — without the checkpoint a
    # non-reused exchange or a stage retry could re-sample range
    # boundaries and assign DIFFERENT __gpid values per branch, making
    # the (group, chunk) offset join silently wrong.
    s = (
        df.repartitionByRange(n_parts, *gcols, *ocols)
        .sortWithinPartitions(*gcols, *ocols)
        .withColumn("__gpid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    local_w = (
        Window.partitionBy("__gpid", *gcols)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = s
    for i, vc in enumerate(vcols):
        local = local.withColumn(f"__lc{i}", F.sum(vc).over(local_w))
    chunk_tot = local.groupBy("__gpid", *gcols).agg(
        *[F.sum(vc).alias(f"__ct{i}") for i, vc in enumerate(vcols)]
    )
    off_w = (
        Window.partitionBy(*gcols)
        .orderBy("__gpid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ct_types = dict(chunk_tot.dtypes)
    # __off is left RAW (NULL when no prior chunk holds a non-null
    # value) so the combine below can reproduce the plain window's
    # NULL contract: running F.sum is NULL iff the whole preceding
    # frame is NULL, i.e. iff BOTH the chunk-local running sum and the
    # prior-chunks carry are NULL.  coalescing either side early would
    # turn "no non-null value yet" into 0 (or, symmetrically, a plain
    # `off + lc` would turn "all-NULL chunk after a non-null carry"
    # into NULL).
    offsets = chunk_tot.select(
        "__gpid",
        *gcols,
        *[
            F.sum(f"__ct{i}").over(off_w).alias(f"__off{i}")
            for i in range(len(vcols))
        ],
    )
    # null-safe offset join: NULL group keys form a group of their own
    # under the plain window (and under groupBy above) — a USING join
    # would silently drop their rows (ADVICE r11 #1 follow-up).
    jcond = F.col("l.__gpid") == F.col("r.__gpid")
    for c in group_cols:
        jcond = jcond & F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
    joined = (
        local.alias("l")
        .join(offsets.alias("r"), jcond, "left")
        .select("l.*", *[F.col(f"r.__off{i}") for i in range(len(vcols))])
    )
    for i, oc in enumerate(outs):
        off_c, lc_c = F.col(f"__off{i}"), F.col(f"__lc{i}")
        zero = F.lit(0).cast(ct_types[f"__ct{i}"])
        joined = joined.withColumn(
            oc,
            F.when(
                off_c.isNull() & lc_c.isNull(),
                F.lit(None).cast(ct_types[f"__ct{i}"]),
            ).otherwise(F.coalesce(off_c, zero) + F.coalesce(lc_c, zero)),
        )
    if total_cols is not None:
        totals = chunk_tot.groupBy(*gcols).agg(
            *[
                F.sum(f"__ct{i}").cast(ct_types[f"__ct{i}"]).alias(tc)
                for i, tc in enumerate(total_cols)
            ]
        )
        if broadcast_totals:
            totals = F.broadcast(totals)
        tcond = F.lit(True)
        for c in group_cols:
            tcond = tcond & F.col(f"jl.{c}").eqNullSafe(F.col(f"jr.{c}"))
        joined = (
            joined.alias("jl")
            .join(totals.alias("jr"), tcond, "left")
            .select("jl.*", *[F.col(f"jr.{tc}") for tc in total_cols])
        )
    return joined.drop(
        "__gpid", *[f"__lc{i}" for i in range(len(vcols))],
        *[f"__off{i}" for i in range(len(vcols))],
    )


#: Plain-window routing bounds (r12) that every :func:`size_route` probe
#: for the carry / prefix-sum / global-row-number routes reads at call
#: time: a group is "hot" — worth the chunked stitch — only when it
#: exceeds BOTH an absolute floor (a single-task in-memory sort of
#: ~2M narrow rows is ~1 s on any executor — negligible next to the
#: chunked form's range-sampling pass + checkpoint + stitch join; the
#: same order of bound as the 2M-row frontier-broadcast budget in
#: operators.graph) and half a fair partition share (past that, one
#: hash partition of the plain window holds a straggler's worth of
#: rows).  A 10^8-row hot key — the 100 TB failure mode the chunked
#: form exists for — exceeds both and keeps the chunked route.  The
#: groupless probes (:func:`global_row_number`, :func:`ntile_exact`)
#: treat the whole frame as one group, so only the floor can pass them.
_CARRY_PLAIN_MAX_ABS = 2_000_000
_CARRY_PLAIN_SHARE = 0.5


def grouped_running_carry(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    last_cols: Sequence[str] = (),
    last_out: Sequence[str] = (),
    sum_cols: Sequence[str] = (),
    sum_out: Sequence[str] = (),
    rev_last_cols: Sequence[str] = (),
    rev_last_out: Sequence[str] = (),
    num_partitions: int | None = None,
    route_plain: bool = False,
) -> DataFrame:
    """Exact per-group running ``last(col, ignorenulls=True)`` and/or
    running ``sum(col)`` under ``order_by`` WITHOUT a per-group
    single-task scan ([ext] scale primitive; the carry sibling of
    :func:`grouped_prefix_sum`, built for the union-scan family —
    as-of joins and boundary-probe attribution — whose hot-key
    residual VERDICT r10 #3 asked to bound).

    ``Window.partitionBy(group).orderBy(...)`` puts a hot key's ENTIRE
    history in one task; at extreme skew that task sorts half the
    input.  This computes the same carries chunked, exactly like
    :func:`grouped_prefix_sum`:

    1. range-repartition + local sort on ``group_cols + order_by`` —
       a hot group straddles MANY chunks because the order columns
       participate in the ranging;
    2. per-(chunk, group) running carries — parallel windows bounded
       by chunk size — plus each chunk's carry-OUT (the last non-null
       value / the chunk sum) from the same sorted pass;
    3. per-(group, chunk) carry-INs by a window over the ≤ #chunks
       rows each group owns (``last non-null over preceding chunks``
       for carries, prefix sum for sums) — parallel across groups,
       never a driver collect;
    4. null-safe join back on ``(group, chunk)``;
       ``coalesce(local, carry_in)`` for carries; for sums a
       NULL-aware add (NULL iff both local running sum and carry-in
       are NULL — the plain window's running-``F.sum`` contract for
       all-NULL prefixes).

    Two keyed shuffles instead of one single-task scan.
    ``rev_last_cols``/``rev_last_out`` compute the running
    last-non-null under the exactly-REVERSED order (every direction
    and null-placement flipped) in the SAME pass: on a total order
    that equals first-non-null over the ``[current, unbounded
    following]`` frame of the ascending sort, so a caller needing both
    directions (first-touch + last-touch attribution) pays one range
    exchange, not two.  The caller MUST make ``order_by`` total within
    each group (include a tiebreak): ties would make both this and the
    plain window nondeterministic (and would break the reversal
    equivalence).  ``order_by`` entries may carry directions
    (``F.col(...).desc_nulls_last()`` etc.) — the range exchange, the
    local sort, and every window use them verbatim.  NULL group keys
    are handled (the offset join is null-safe), matching the plain
    window's NULL-groups-together semantics.  Sum columns follow
    :func:`grouped_prefix_sum`'s typing contract (integer/decimal for
    bit-exact cross-engine results).  ``route_plain`` works as in
    :func:`grouped_prefix_sum`.
    """
    lasts = list(zip(last_cols, last_out))
    sums = list(zip(sum_cols, sum_out))
    revs = list(zip(rev_last_cols, rev_last_out))
    if (
        len(last_cols) != len(last_out)
        or len(sum_cols) != len(sum_out)
        or len(rev_last_cols) != len(rev_last_out)
    ):
        raise ValueError("grouped_running_carry: in/out column count mismatch")
    if not lasts and not sums and not revs:
        raise ValueError("grouped_running_carry: nothing to compute")
    gcols = [F.col(c) for c in group_cols]
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if route_plain:
        # plain-window route (see grouped_prefix_sum)
        run_w = (
            Window.partitionBy(*group_cols)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        rev_w = (
            Window.partitionBy(*group_cols)
            .orderBy(*order_by)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        out = df
        for vc, oc in lasts:
            out = out.withColumn(oc, F.last(vc, ignorenulls=True).over(run_w))
        for vc, oc in revs:
            out = out.withColumn(oc, F.first(vc, ignorenulls=True).over(rev_w))
        for vc, oc in sums:
            out = out.withColumn(oc, F.sum(vc).over(run_w))
        return out
    # pinned range exchange (grouped_prefix_sum discipline): both the
    # local-carry branch and the carry-in branch derive from `s`;
    # without the checkpoint a stage retry could re-sample range
    # boundaries and assign different __gpid values per branch.  LAZY
    # checkpoint: within the first action both branches read the same
    # computed exchange (then-cached blocks); eager would add a whole
    # extra job at construction for the same retry protection.
    s = (
        df.repartitionByRange(n_parts, *gcols, *order_by)
        .sortWithinPartitions(*gcols, *order_by)
        .withColumn("__gpid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    run_w = (
        Window.partitionBy("__gpid", *group_cols)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # same partitioning+sort, full frame: each row sees the chunk's
    # carry-out (one Window exec, no extra exchange)
    full_w = (
        Window.partitionBy("__gpid", *group_cols)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # reversed running carry ON THE SAME ascending sort: running
    # last-non-null under the exactly-reversed total order equals
    # first-non-null over the [current, unbounded following] frame —
    # no second range exchange, no re-sort (the caller's order must be
    # total within groups, so the reversal is exact).
    rev_run_w = (
        Window.partitionBy("__gpid", *group_cols)
        .orderBy(*order_by)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    local = s
    for i, (vc, _) in enumerate(lasts):
        local = local.withColumn(
            f"__lcar{i}", F.last(vc, ignorenulls=True).over(run_w)
        ).withColumn(f"__lout{i}", F.last(vc, ignorenulls=True).over(full_w))
    for i, (vc, _) in enumerate(sums):
        local = local.withColumn(f"__lsum{i}", F.sum(vc).over(run_w))
    for i, (vc, _) in enumerate(revs):
        local = local.withColumn(
            f"__rcar{i}", F.first(vc, ignorenulls=True).over(rev_run_w)
        ).withColumn(f"__rout{i}", F.first(vc, ignorenulls=True).over(full_w))
    chunk = local.groupBy("__gpid", *group_cols).agg(
        *[F.first(f"__lout{i}").alias(f"__co{i}") for i in range(len(lasts))],
        *[F.sum(vc).alias(f"__ct{i}") for i, (vc, _) in enumerate(sums)],
        *[F.first(f"__rout{i}").alias(f"__cr{i}") for i in range(len(revs))],
    )
    off_w = (
        Window.partitionBy(*group_cols)
        .orderBy("__gpid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # reversed carry-in: first non-null chunk carry among the LATER
    # chunks of the same group
    rev_off_w = (
        Window.partitionBy(*group_cols)
        .orderBy("__gpid")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ct_types = dict(chunk.dtypes)
    offsets = chunk.select(
        "__gpid",
        *gcols,
        *[
            F.last(f"__co{i}", ignorenulls=True).over(off_w).alias(f"__ci{i}")
            for i in range(len(lasts))
        ],
        *[
            F.first(f"__cr{i}", ignorenulls=True)
            .over(rev_off_w)
            .alias(f"__rin{i}")
            for i in range(len(revs))
        ],
        *[
            # RAW prior-chunks sum (NULL when every earlier chunk's
            # total is NULL) — the combine below needs the distinction
            # to keep the plain window's NULL contract (see
            # grouped_prefix_sum).
            F.sum(f"__ct{i}").over(off_w).alias(f"__off{i}")
            for i in range(len(sums))
        ],
    )
    cond = F.col("l.__gpid") == F.col("r.__gpid")
    for c in group_cols:
        cond = cond & F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
    joined = local.alias("l").join(
        offsets.alias("r"), cond, "left"
    ).select(
        "l.*",
        *[F.col(f"r.__ci{i}") for i in range(len(lasts))],
        *[F.col(f"r.__rin{i}") for i in range(len(revs))],
        *[F.col(f"r.__off{i}") for i in range(len(sums))],
    )
    for i, (_, oc) in enumerate(lasts):
        joined = joined.withColumn(
            oc, F.coalesce(F.col(f"__lcar{i}"), F.col(f"__ci{i}"))
        )
    for i, (_, oc) in enumerate(revs):
        joined = joined.withColumn(
            oc, F.coalesce(F.col(f"__rcar{i}"), F.col(f"__rin{i}"))
        )
    for i, (_, oc) in enumerate(sums):
        # plain-window NULL contract: running F.sum is NULL iff the
        # whole preceding frame is NULL — i.e. chunk-local running sum
        # AND prior-chunks carry both NULL (ADVICE r11 #1).
        off_c, lsum_c = F.col(f"__off{i}"), F.col(f"__lsum{i}")
        zero = F.lit(0).cast(ct_types[f"__ct{i}"])
        joined = joined.withColumn(
            oc,
            F.when(
                off_c.isNull() & lsum_c.isNull(),
                F.lit(None).cast(ct_types[f"__ct{i}"]),
            ).otherwise(F.coalesce(off_c, zero) + F.coalesce(lsum_c, zero)),
        )
    return joined.drop(
        "__gpid",
        *[f"__lcar{i}" for i in range(len(lasts))],
        *[f"__lout{i}" for i in range(len(lasts))],
        *[f"__ci{i}" for i in range(len(lasts))],
        *[f"__rcar{i}" for i in range(len(revs))],
        *[f"__rout{i}" for i in range(len(revs))],
        *[f"__rin{i}" for i in range(len(revs))],
        *[f"__lsum{i}" for i in range(len(sums))],
        *[f"__off{i}" for i in range(len(sums))],
    )


def aggregate_navigator(
    fact: DataFrame,
    summaries: "list[tuple[list[str], DataFrame]]",
    keys: "list[str]",
    measures: "dict[str, str]",
) -> DataFrame:
    """Aggregate-aware query routing (the warehouse "aggregate
    navigator" / materialized-view rewrite for additive rollups):
    answer ``SELECT keys, agg(measures) FROM fact GROUP BY keys`` from
    the SMALLEST pre-aggregated summary whose grain covers the
    requested keys, falling back to the fact table.

    ``summaries`` is ``[(grain_cols, summary_df), ...]`` where each
    summary has ``grain_cols`` plus one column per measure holding the
    per-grain partial (SUM-of or COUNT-of).  ``measures`` maps output
    column → ``"sum"``/``"count"``; additivity is what makes re-rolling
    a summary legal (MIN/MAX would also roll up; AVG callers route a
    sum and a count and divide downstream).

    Routing rule: usable ⟺ requested ``keys ⊆ grain``; among usable
    summaries pick the one with the FEWEST grain columns (coarsest —
    cheapest to re-aggregate), using the fact when none qualifies.
    At 100 TB the payoff is the whole point of summary tables: a
    grain-covered query re-aggregates a table orders of magnitude
    smaller than the fact, and correctness is transparent — pinned by
    the q_agg_navigator oracle, which always computes from the fact.

    COUNT partials re-roll via SUM (a count of counts is a sum); the
    chosen source is returned re-aggregated to ``keys`` with the
    measure output names.
    """
    key_set = set(keys)
    usable = [
        (grain, df) for grain, df in summaries if key_set.issubset(set(grain))
    ]
    if usable:
        usable.sort(key=lambda t: len(t[0]))
        _, src = usable[0]
        aggs = [F.sum(F.col(out)).alias(out) for out in measures]
        return src.groupBy(*keys).agg(*aggs)
    aggs = []
    for out, kind in measures.items():
        if kind == "count":
            aggs.append(F.count(F.lit(1)).alias(out))
        else:
            aggs.append(F.sum(F.col(out)).alias(out))
    return fact.groupBy(*keys).agg(*aggs)
