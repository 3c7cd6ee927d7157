"""In-engine model training primitives ([ext] — the curation-loop
closer: the quality classifier that *scores* documents
(queries/text.py q_quality_model_score) is *trained* here, on the
same engine that runs the pipeline).

Full-batch logistic-regression gradient descent as pure DataFrame
aggregation: per iteration ONE corpus scan computing the
dim-bounded gradient (map-side partial aggregation, a ``dim+1``-row
collect), weights updated driver-side and re-broadcast as literals.
At 100 TB that is k scans for k iterations with no shuffle beyond the
aggregate — the classic "broadcast parameters, reduce gradients"
data-parallel shape (parameter-server with k=1 server, 0 state).

No pyspark.ml dependency: MLlib's LogisticRegression carries
breeze/LBFGS machinery; curation models are tiny (a handful of
features), so transparent, deterministic full-batch GD in DataFrame
ops is both simpler and auditable — and exactly reproducible against
a numpy reference (tests/test_training.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sigmoid(z: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def logreg_gradient(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    weights: list[float],
) -> tuple[list[float], int]:
    """One full-batch gradient of binary-cross-entropy loss:
    ``grad_j = Σ_rows (σ(w·x) − y) · x_j`` with x_0 ≡ 1 (bias).

    Returns ``(gradient, n_rows)`` — a ``len(weights)``-element list
    (bias first).  One aggregate job; the collect is dim-bounded.
    """
    z = F.lit(weights[0])
    for j, c in enumerate(feature_cols):
        z = z + F.lit(weights[j + 1]) * F.col(c).cast("double")
    err = (sigmoid(z) - F.col(label_col).cast("double")).alias("__err")
    terms = df.select(
        err,
        *[F.col(c).cast("double").alias(f"__x{j}") for j, c in enumerate(feature_cols)],
    )
    row = terms.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__err").alias("__g0"),
        *[
            F.sum(F.col("__err") * F.col(f"__x{j}")).alias(f"__g{j + 1}")
            for j in range(len(feature_cols))
        ],
    ).first()
    n = row["__n"]
    return [row[f"__g{j}"] for j in range(len(feature_cols) + 1)], n


def logreg_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float = 0.5,
    iterations: int = 20,
    init: list[float] | None = None,
) -> list[float]:
    """Train by full-batch GD: k iterations × (one scan + one
    dim-bounded collect).  Returns the weight vector (bias first).

    Deterministic up to float-sum ordering of the gradient aggregate
    (the usual data-parallel contract; the one-step declared query
    q_logreg_step pins a fully order-independent decimal-summed
    variant for the cross-engine oracle).
    """
    w = list(init) if init is not None else [0.0] * (len(feature_cols) + 1)
    if len(w) != len(feature_cols) + 1:
        raise ValueError(
            f"init has {len(w)} weights; need {len(feature_cols) + 1} (bias first)"
        )
    for _ in range(iterations):
        grad, n = logreg_gradient(df, feature_cols, label_col, w)
        if n == 0:
            raise ValueError("logreg_train: empty input")
        w = [wi - lr * gi / n for wi, gi in zip(w, grad)]
        if any(not math.isfinite(x) for x in w):
            raise ValueError(
                "logreg_train diverged (non-finite weights) — lower lr"
            )
    return w


def isotonic_fit_binned(
    cells: DataFrame,
    group_cols: list[str],
    bin_col: str,
    n_col: str,
    s_col: str,
) -> DataFrame:
    """Exact weighted isotonic regression over pre-aggregated bins,
    per group — the calibration primitive (fit a non-decreasing rate
    curve to per-bin event rates, e.g. Platt-scaling's nonparametric
    sibling for model-score calibration).

    Input is the COUNTS-FIRST collapse the caller already did:
    one row per (group, bin) with ``n_col`` = row count and ``s_col``
    = (exact integer/decimal) sum of the response in that bin.  The
    isotonic solution is computed with the minimax identity

        fit(i) = max_{j<=i} min_{k>=i} avg(y over bins j..k)

    (Barlow-Bartholomew-Bremner-Brunk 1972, eq. 1.9–1.13: the weighted
    least-squares monotone fit equals the max-min of interval means),
    which distributes cleanly: prefix sums per group (window over B
    bins), all j<=k interval means (B(B+1)/2 rows per group), a
    suffix-min window per start bin, and one grouped max.  Work is
    O(B^2) rows per group where B is the BIN count — bounded by the
    bin domain (quantities, score deciles, price bands), never by the
    row count, so the shape survives any corpus size.  Every interval
    mean is a double division of exact sums: identical in any engine.

    Returns one row per (group, bin): the input columns plus
    ``iso_fit`` (double).  PAV-parity is pinned in
    ``tests/test_round17_ops.py`` (pure-Python pool-adjacent-violators
    reproduces the minimax fit exactly).
    """
    from pyspark.sql.window import Window

    g = list(group_cols)
    w = Window.partitionBy(*g).orderBy("__b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pref = cells.select(
        *g,
        F.col(bin_col).alias("__b"),
        F.col(n_col).alias("__n"),
        F.col(s_col).alias("__s"),
    )
    pref = pref.withColumn("__cn", F.sum("__n").over(w)).withColumn(
        "__cs", F.sum("__s").over(w)
    )
    start = pref.select(
        *g,
        F.col("__b").alias("__j"),
        (F.col("__cn") - F.col("__n")).alias("__cn0"),
        (F.col("__cs") - F.col("__s")).alias("__cs0"),
    )
    end = pref.select(
        *g,
        F.col("__b").alias("__k"),
        F.col("__cn").alias("__cn1"),
        F.col("__cs").alias("__cs1"),
    )
    pairs = start.join(end, on=g).filter(F.col("__k") >= F.col("__j"))
    pairs = pairs.select(
        *g,
        "__j",
        "__k",
        (
            (F.col("__cs1") - F.col("__cs0")).cast("double")
            / (F.col("__cn1") - F.col("__cn0"))
        ).alias("__avg"),
    )
    wmin = (
        Window.partitionBy(*g, "__j")
        .orderBy(F.col("__k").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = pairs.withColumn("__m", F.min("__avg").over(wmin))
    fit = m.groupBy(*g, F.col("__k").alias(bin_col)).agg(
        F.max("__m").alias("iso_fit")
    )
    return cells.join(fit, on=g + [bin_col])
