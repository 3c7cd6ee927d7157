"""Order-dependent per-key recurrences that plain window functions
cannot express.

A running sum, rank, or lag is windowable because it is an associative
fold; a *clamped* running sum is not — the clamp makes each step a
non-associative function of the previous STATE, so Spark's window
machinery (which needs a mergeable partial aggregate) cannot compute
it.  The classic instances:

- inventory / account balances with a floor and a capacity cap
  (``S_t = min(cap, max(floor, S_{t-1} + x_t))``),
- CUSUM change-point statistics (``S_t = max(0, S_{t-1} + x_t - k)`` —
  the floor-only special case),
- energy/battery charge models, rate-limiter token buckets.

Scale contract (100 TB): the recurrence is inherently sequential *per
key* but embarrassingly parallel *across keys* — exactly the shape
``applyInPandas`` distributes: one shuffle on the key columns, then an
Arrow-batched O(rows-in-group) scan with O(1) state per group and no
driver involvement.  The per-group scan is a Python loop over numpy
arrays, which is fine up to ~10^6 rows per key; a key that is hot
enough to exceed that is a time-series you should chunk by coarse time
range first (each chunk seeds the next — the same carry pattern
``incremental_agg_apply`` uses).

Reference parity: the reference engine has no sequential-state
operator at all — its CDC pipeline recomputes balances from scratch
(``/root/reference/jibaro/datalake/cdc.py:203-269`` re-merges full
snapshots); this module is part of the [ext] surface that closes that
gap Spark-first.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jibaro_spark.operators.util import dense_exchange, local_frame


def clamped_cumsum(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    floor: float | None = None,
    cap: float | None = None,
    out_col: str = "clamped_sum",
    init: float = 0.0,
) -> DataFrame:
    """Per-key running sum of ``value_col`` clamped to [floor, cap].

    ``S_0 = init``; ``S_t = min(cap, max(floor, S_{t-1} + x_t))`` in
    iteration order ``order_by`` within each group of ``keys``.  With
    ``floor=None``/``cap=None`` the bound is open on that side (and
    with both open this degenerates to the windowable plain cumsum —
    prefer ``F.sum().over(...)`` there; this operator exists for the
    clamped case).

    The output keeps every input column and appends ``out_col``
    (double).  Rows within a group are emitted in ``order_by`` order;
    global output order is undefined (as for any shuffle).
    """
    if not keys:
        raise ValueError("clamped_cumsum requires at least one key column")
    if not order_by:
        raise ValueError("clamped_cumsum requires an explicit order_by")
    if floor is not None and cap is not None and floor > cap:
        raise ValueError(f"floor {floor} > cap {cap}")

    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.DoubleType(), True)]
    )
    order_cols = list(order_by)
    lo = float("-inf") if floor is None else float(floor)
    hi = float("inf") if cap is None else float(cap)
    init_f = float(init)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        xs = pdf[value_col].to_numpy(dtype="float64", na_value=0.0)
        out = xs.copy()
        s = init_f
        for i in range(len(xs)):
            s = s + xs[i]
            if s < lo:
                s = lo
            elif s > hi:
                s = hi
            out[i] = s
        pdf[out_col] = out
        return pdf

    return df.groupBy(*[F.col(k) for k in keys]).applyInPandas(run, out_schema)


def cusum(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    target: str | float,
    slack: float = 0.0,
    out_col: str = "cusum",
) -> DataFrame:
    """One-sided (positive-drift) CUSUM statistic per key.

    ``S_t = max(0, S_{t-1} + (x_t - target - slack))`` — the Page
    (1954) cumulative-sum control chart.  ``target`` may be a column
    name (per-row reference level, e.g. a per-key mean joined on
    beforehand) or a constant.  Change-point alarms are then a plain
    filter ``S_t > h`` downstream.

    Implemented as ``clamped_cumsum(floor=0)`` over the deviation
    column, so it inherits the same shuffle-once / scan-once scale
    shape.
    """
    dev = "__cusum_dev"
    t_expr = F.col(target) if isinstance(target, str) else F.lit(float(target))
    with_dev = df.withColumn(dev, F.col(value_col) - t_expr - F.lit(float(slack)))
    out = clamped_cumsum(
        with_dev, keys, order_by, dev, floor=0.0, cap=None, out_col=out_col
    )
    return out.drop(dev)


def next_greater(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    out_col: str = "next_ord",
) -> DataFrame:
    """For each row, the ``order_col`` value of the FIRST subsequent
    row (within the same key group) whose ``value_col`` is strictly
    greater — the classic monotonic-stack problem ("days until a
    higher price"), null when no later row is greater.

    Not windowable: "first later row satisfying a value predicate" is
    neither a fixed frame nor an associative aggregate.  The monotonic
    stack makes it O(rows-in-group): scan in order keeping a
    decreasing stack of unresolved rows; each new value pops (and
    resolves) every stacked row it exceeds.  Same distribution
    contract as :func:`clamped_cumsum` — one shuffle on the keys,
    Arrow-batched per-group scan, state bounded by the longest
    decreasing run.
    """
    if not keys:
        raise ValueError("next_greater requires at least one key column")

    ord_field = df.schema[order_col]
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, ord_field.dataType, True)]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        vals = pdf[value_col].to_numpy()
        ords = pdf[order_col].to_numpy()
        out = [None] * len(pdf)
        stack: list[int] = []  # indices with strictly decreasing values
        for i in range(len(pdf)):
            while stack and vals[stack[-1]] < vals[i]:
                out[stack.pop()] = ords[i]
            stack.append(i)
        # object dtype: Arrow converts python scalars + None to the
        # declared output type (an int64/timestamp Series cannot hold
        # the Nones directly)
        pdf[out_col] = pd.Series(out, dtype="object", index=pdf.index)
        return pdf

    return df.groupBy(*[F.col(k) for k in keys]).applyInPandas(run, out_schema)


def holt(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.25,
    level_col: str = "level",
    trend_col: str = "trend",
) -> DataFrame:
    """Holt double exponential smoothing per key (level + trend).

    ``l_1 = x_1``, ``b_1 = 0``; for t ≥ 2::

        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    The one-step-ahead forecast is then ``l_t + b_t`` downstream.
    Like :func:`clamped_cumsum`, the trend term makes each step a
    non-associative function of the previous state, so no window
    aggregate can express it; the distribution contract is identical
    (one shuffle on the keys, Arrow-batched sequential scan per key,
    O(1) state, parallel across keys).

    Determinism: with α, β exact binary fractions (the defaults are
    1/2 and 1/4) every step is the same IEEE-double expression in the
    same order on any engine, so the outputs are bit-identical to a
    SQL recursive-CTE replay — which is how the oracle checks it.
    """
    if not keys:
        raise ValueError("holt requires at least one key column")
    if not order_by:
        raise ValueError("holt requires an explicit order_by")
    if not (0.0 < alpha <= 1.0) or not (0.0 <= beta <= 1.0):
        raise ValueError(f"alpha must be in (0,1], beta in [0,1]; got {alpha}, {beta}")

    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField(level_col, T.DoubleType(), True),
            T.StructField(trend_col, T.DoubleType(), True),
        ]
    )
    order_cols = list(order_by)
    a = float(alpha)
    b_ = float(beta)
    one_a = 1.0 - a
    one_b = 1.0 - b_

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        xs = pdf[value_col].to_numpy(dtype="float64")
        levels = xs.copy()
        trends = xs.copy()
        lev, tr = 0.0, 0.0
        for i in range(len(xs)):
            if i == 0:
                lev, tr = xs[0], 0.0
            else:
                prev = lev
                lev = a * xs[i] + one_a * (lev + tr)
                tr = b_ * (lev - prev) + one_b * tr
            levels[i] = lev
            trends[i] = tr
        pdf[level_col] = levels
        pdf[trend_col] = trends
        return pdf

    return df.groupBy(*[F.col(k) for k in keys]).applyInPandas(run, out_schema)


def dtw_distance_pairs(
    series: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    band: int = 7,
    max_keys: int = 1000,
) -> DataFrame:
    """Banded dynamic-time-warping distance between every pair of
    keyed series (Sakoe-Chiba band; |x−y| step cost; symmetric
    step pattern min(diag, up, left)) — the time-series similarity
    join primitive that tolerates phase shift where a pointwise
    metric (Euclidean/MAE) does not.

    DTW's DP recurrence is order-dependent in BOTH indices, so no
    window/aggregate can express it: this is the ``applyInPandas``
    lane by design (module contract above).  Shape: per-pair state is
    the O(min(n,m)·band) DP band, pairs are built by replicating each
    key's series once per partner — total rows |keys|·Σ|series|, which
    is bounded because the KEY DOMAIN is bounded (priorities, status
    codes, sensors-per-site; a thousand-key cross would be a different
    operator) — and enforced: more than ``max_keys`` distinct keys
    raises ``ValueError`` unless the caller overrides it.  Each pair computes independently — one shuffle on the
    pair id, then Arrow-batched numpy DP with no driver involvement.

    Integer-valued series make the returned distance exactly integer
    (sum of |int−int|), so results are bit-stable across runs and
    engines; the pure-Python parity test pins the DP.

    Returns ``(key_a, key_b, n_a, n_b, dtw)`` for every unordered
    pair (key_a < key_b); ``dtw`` is double (NaN-free: the band is
    widened to cover length differences, |n−m| ≤ effective band).
    """
    import numpy as np

    # Enforce the bounded-key-domain contract instead of leaving it in
    # prose: a caller with 10^5 keys would otherwise get a silent
    # C(k,2) ≈ 5×10^9-row pair plan.  Same precedent as
    # ``dedup.edit_distance_join``'s explicit blocking requirement —
    # pass a larger ``max_keys`` to opt in deliberately.
    # a NULL key is not a series (and None breaks the key sort below).
    # One probe: one key past the bound is enough to refuse.
    series = series.filter(F.col(key_col).isNotNull())
    keys = sorted(
        r[0] for r in series.select(key_col).distinct().limit(max_keys + 1).collect()
    )
    if len(keys) > max_keys:
        raise ValueError(
            f"dtw_distance_pairs builds all C(k,2) pairs driver-side: "
            f"more than max_keys={max_keys} distinct keys; "
            f"pre-aggregate/bucket the key domain or raise max_keys "
            f"explicitly if the quadratic pair plan is intended"
        )
    spark = series.sparkSession
    pairs = [(a, b) for i, a in enumerate(keys) for b in keys[i + 1 :]]
    if not pairs:
        return local_frame(
            spark, [], "key_a string, key_b string, n_a long, n_b long, dtw double"
        )
    key_type = series.schema[key_col].dataType
    pair_df = local_frame(
        spark, pairs, T.StructType([T.StructField(c, key_type) for c in ("key_a", "key_b")])
    )
    s = series.select(
        F.col(key_col).alias("__k"),
        F.col(order_col).alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
    )
    # replicate: side a rows + side b rows, tagged by the pair
    tagged = pair_df.join(s, F.col("key_a") == F.col("__k")).select(
        "key_a", "key_b", F.lit("a").alias("__side"), "__t", "__v"
    ).unionByName(
        pair_df.join(s, F.col("key_b") == F.col("__k")).select(
            "key_a", "key_b", F.lit("b").alias("__side"), "__t", "__v"
        )
    )

    def _dtw(pdf):
        pdf = pdf.sort_values("__t")
        x = pdf.loc[pdf["__side"] == "a", "__v"].to_numpy()
        y = pdf.loc[pdf["__side"] == "b", "__v"].to_numpy()
        n, m = len(x), len(y)
        w = max(band, abs(n - m)) if n and m else band
        big = float("inf")
        prev = np.full(m + 1, big)
        prev[0] = 0.0
        for i in range(1, n + 1):
            cur = np.full(m + 1, big)
            lo, hi = max(1, i - w), min(m, i + w)
            for j in range(lo, hi + 1):
                c = abs(x[i - 1] - y[j - 1])
                cur[j] = c + min(prev[j - 1], prev[j], cur[j - 1])
            prev = cur
        d = float(prev[m]) if n and m else float("nan")
        return pd.DataFrame(
            {
                "key_a": [pdf["key_a"].iloc[0]],
                "key_b": [pdf["key_b"].iloc[0]],
                "n_a": [n],
                "n_b": [m],
                "dtw": [d],
            }
        )

    # explicit pair-keyed exchange (r12, see operators.util.
    # dense_exchange): the per-pair Python DP is extreme CPU-per-byte
    # and AQE's byte-based coalescing otherwise runs the bounded pair
    # domain on 1-2 tasks; this plans the same exchange the grouped
    # applyInPandas needs, at full parallelism.
    return dense_exchange(tagged, "key_a", "key_b").groupBy(
        "key_a", "key_b"
    ).applyInPandas(
        _dtw, "key_a string, key_b string, n_a long, n_b long, dtw double"
    )


def holt_winters(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    period: int = 7,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
    level_col: str = "level",
    trend_col: str = "trend",
    seasonal_col: str = "s_cur",
) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing per key
    (level + trend + ``period``-length seasonal state) — the seasonal
    completion of :func:`holt`.

    ``l_1 = x_1``, ``b_1 = 0``, seasonal queue seeded to zeros; for
    t ≥ 2 with ``su`` = the queue head (the season slot from
    ``period`` steps ago)::

        l_t = α·(x_t − su) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(x_t − l_t) + (1−γ)·su        (pushed onto the queue)

    Same distribution contract as the module's other recurrences (one
    key shuffle, Arrow-batched sequential scan, O(period) state).
    Determinism: with α, β, γ exact binary fractions every step is
    the same IEEE-double expression in the same order on any engine —
    the oracle replays it with a recursive CTE whose seasonal state
    is a rotating LIST (``seas[2:] || [s_new]``), and the outputs are
    bit-identical, exactly like :func:`holt`'s.
    """
    if not keys or not order_by:
        raise ValueError("holt_winters requires keys and an explicit order_by")
    if period < 1:
        raise ValueError(f"period must be >= 1, got {period}")

    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField(level_col, T.DoubleType(), True),
            T.StructField(trend_col, T.DoubleType(), True),
            T.StructField(seasonal_col, T.DoubleType(), True),
        ]
    )
    order_cols = list(order_by)
    a, b_, g_ = float(alpha), float(beta), float(gamma)
    one_a, one_b, one_g = 1.0 - a, 1.0 - b_, 1.0 - g_
    m = int(period)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        xs = pdf[value_col].to_numpy(dtype="float64")
        n = len(xs)
        levels = [0.0] * n
        trends = [0.0] * n
        scurs = [0.0] * n
        seas = [0.0] * m
        lev, tr = 0.0, 0.0
        for i in range(n):
            x = float(xs[i])
            if i == 0:
                lev, tr = x, 0.0
                s_new = 0.0
            else:
                su = seas[0]
                l_new = a * (x - su) + one_a * (lev + tr)
                tr = b_ * (l_new - lev) + one_b * tr
                s_new = g_ * (x - l_new) + one_g * su
                lev = l_new
            seas = seas[1:] + [s_new]
            levels[i], trends[i], scurs[i] = lev, tr, s_new
        out = pdf.copy()
        out[level_col] = levels
        out[trend_col] = trends
        out[seasonal_col] = scurs
        return out

    return df.groupBy(*keys).applyInPandas(run, out_schema)


def croston(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    alpha: float = 0.5,
    z_col: str = "z_hat",
    p_col: str = "p_hat",
    fc_col: str = "forecast",
) -> DataFrame:
    """Croston's method for INTERMITTENT demand (Croston 1972) — the
    forecasting recurrence for series that are mostly zero (spare
    parts, rare events), where plain exponential smoothing collapses
    toward zero between demands.

    Two exponentially-smoothed states updated ONLY at nonzero
    periods: demand size ``z`` and inter-demand interval ``p``; ``q``
    counts periods since the last demand::

        x_t > 0:  z ← α·x_t + (1−α)·z ;  p ← α·q + (1−α)·p ;  q ← 1
        x_t = 0:  q ← q + 1                         (states carried)

    First demand seeds ``z = x``, ``p = q``.  Forecast = ``z / p``
    (NULL before the first demand).  Same distribution contract as
    the module's other recurrences; with α an exact binary fraction
    the recursive-CTE replay is bit-identical (:func:`holt`'s
    discipline).  Input must be a DENSE series (zero-filled calendar)
    — intermittency is the point, so the zeros must be rows.
    """
    if not keys or not order_by:
        raise ValueError("croston requires keys and an explicit order_by")

    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField(z_col, T.DoubleType(), True),
            T.StructField(p_col, T.DoubleType(), True),
            T.StructField(fc_col, T.DoubleType(), True),
        ]
    )
    order_cols = list(order_by)
    a = float(alpha)
    one_a = 1.0 - a

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        xs = pdf[value_col].to_numpy(dtype="float64")
        n = len(xs)
        zs = [None] * n
        ps = [None] * n
        fcs = [None] * n
        z = p = None
        q = 1
        for i in range(n):
            x = float(xs[i])
            if x > 0.0:
                if z is None:
                    z = x
                    p = float(q)
                else:
                    z = a * x + one_a * z
                    p = a * float(q) + one_a * p
                q = 1
            else:
                q += 1
            zs[i], ps[i] = z, p
            fcs[i] = (z / p) if z is not None else None
        out = pdf.copy()
        out[z_col] = pd.array(zs, dtype="float64")
        out[p_col] = pd.array(ps, dtype="float64")
        out[fc_col] = pd.array(fcs, dtype="float64")
        return out

    return df.groupBy(*keys).applyInPandas(run, out_schema)
