"""Trained quality classifier for training-data curation.

The GPT-3 / LLaMA-pipeline pattern: train a linear classifier to separate a
trusted reference slice of the corpus from the rest, then score every
document and keep/downsample by the score. The reference engine has no
trained models at all (its rules are hand-written predicates,
`src/signup/rules.rs:16-60`); this is a beyond-reference operator the
large-scale curation pipeline needs.

Training is batch gradient descent with a HARD-SIGMOID link, fully
integer-quantized so the whole trajectory — not just the converged answer —
is order-independent and bit-identical across engines, partitionings, and
shuffle orders (the same contract as ``kmeans_fit_quantized`` /
``pagerank_quantized``): features quantize to milli-units map-side, the
margin and probability live in micro-units, and every division is an
explicit floor of a correctly-rounded double quotient with operands far
below 2^53 at any per-round magnitude (|grad sum| <= n_docs * 1e9 — exact
through ~9e3 TB of docs; beyond that, shard the gradient agg and sum
per-shard BIGINTs).

Distributed shape per iteration (the textbook data-parallel GD layout):
scoring is a map-side projection with the weight vector inlined as
literals (no join, no broadcast variable, no shuffle of the corpus), and
the gradient is ONE partial aggregation producing d+1 numbers — d sums and
a count — to the driver. State through every exchange is d+1 BIGINTs per
partition, independent of corpus size. A DuckDB recursive CTE carrying the
weight list replays the identical trajectory for the full hash check.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# feature scale (milli-units: x/1000 in [0, 1]) and weight/probability
# scale (micro-units)
FEAT_Q = 1000
PROB_Q = 1_000_000
HALF_Q = PROB_Q // 2
# hard sigmoid: p = clamp(z/4 + 1/2, 0, 1) — rational, so quantizable;
# the classical piecewise-linear approximation of the logistic link
SIG_SLOPE_DEN = 4
# effective learning rate 1/LR_DEN on the mean milli-feature gradient
LR_DEN = 2

CAP_CHARS = 2000


def doc_features(text: Column, n_chars: Column) -> list[Column]:
    """The 4 milli-unit integer features (bias, capped length, space
    ratio, digit ratio) — map-side, bounded in [0, 1000], no tokenizer
    needed.  Ratios floor one correctly-rounded double quotient each."""
    n_sp = F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))
    n_dig = F.length(F.regexp_replace(text, "[^0-9]", ""))
    denom = F.greatest(n_chars, F.lit(1)).cast("double")
    return [
        F.lit(FEAT_Q).cast("bigint"),
        F.floor(
            F.lit(float(FEAT_Q)) * F.least(n_chars, F.lit(CAP_CHARS)) / F.lit(float(CAP_CHARS))
        ).cast("bigint"),
        F.floor(F.lit(float(FEAT_Q)) * n_sp.cast("double") / denom).cast("bigint"),
        F.floor(F.lit(float(FEAT_Q)) * n_dig.cast("double") / denom).cast("bigint"),
    ]


def _score_q(xs: list[Column], weights: list[int]) -> Column:
    """Micro-unit hard-sigmoid probability under integer weights:
    z = floor(w.x / 1000), p = clamp(floor(z/4) + 500000, 0, 1000000).

    The weight vector rides as ONE array literal so every GD iteration —
    whose weight VALUES change — generates identical codegen source and
    hits the compiler cache (see SCALE.md "Expression-size regimes").
    The dot is an integer fold — order-independent, same values as the
    inlined term chain."""
    w_lit = F.lit([int(w) for w in weights])
    dot = F.aggregate(
        F.zip_with(F.array(*xs), w_lit, lambda x, w: x * w),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    z = F.floor(dot.cast("double") / F.lit(float(FEAT_Q))).cast("bigint")
    p = F.floor(z.cast("double") / F.lit(float(SIG_SLOPE_DEN))).cast("bigint") + F.lit(HALF_Q)
    return F.least(F.greatest(p, F.lit(0).cast("bigint")), F.lit(PROB_Q).cast("bigint"))


def _lr_feats_pdf(feats: DataFrame, label_col: str, feat_cols: tuple[str, ...]):
    """(y, X) int64 arrays for the small-corpus GD tier, or ``None`` past
    the gates. Bails on null labels/features (the distributed aggregation
    SKIPS null product terms while count(*) still counts the row — a
    semantics the dense matmul must not guess) and on empty frames (the
    distributed path owns the no-rows error)."""
    import numpy as np

    from .util import small_corpus_pdf

    cols = (label_col, *feat_cols)
    pdf = small_corpus_pdf(feats.select(*cols), feats, nonnull=cols)
    if pdf is None or len(pdf) == 0:
        return None
    y = pdf[label_col].to_numpy(dtype=np.int64)
    xmat = pdf[list(feat_cols)].to_numpy(dtype=np.int64)
    return y, xmat


def lr_fit_quantized(
    feats: DataFrame,
    iters: int = 6,
    label_col: str = "y",
    feat_cols: tuple[str, ...] = ("x0", "x1", "x2", "x3"),
) -> list[int]:
    """Fit the quantized hard-sigmoid linear classifier: ``iters`` rounds
    of w_j += floor(sum_i((y_i*1e6 - p_i) * x_ij) / (n * 1000 * LR_DEN)),
    starting from the zero vector.  ``feats``: one row per example with
    BIGINT milli-unit features and a 0/1 label.  Per round: one map-side
    scoring projection + one partial agg of d sums and a count (d+1
    numbers to the driver) — no other exchange. The (tiny — d+1 bigints
    per example) feature frame persists across the ``iters`` passes so
    the upstream feature extraction (regex-heavy when derived from raw
    text) runs once, not once per round; spilled to local disk at scale
    instead of re-reading the source."""
    from pyspark import StorageLevel

    # Small-corpus tier (round 11): the whole GD trajectory from ONE
    # Arrow collect — every per-iteration quantity is an exact int64
    # (dot, residual, gradient sums; same two's-complement wrap as
    # BIGINT) or a floored correctly-rounded double quotient with both
    # operands exactly representable (|grad| <= n * 1e9 << 2^53 at any
    # gate-admitted n), so the weight trajectory is bit-identical to the
    # distributed rounds. Replaces the persist + iters x (interpreted
    # fold scoring + aggregation job). Gate rejections keep the
    # distributed shape below — the 100 TB path.
    small = _lr_feats_pdf(feats, label_col, feat_cols)
    if small is not None:
        import numpy as np

        y, xmat = small
        n = len(y)
        w = np.zeros(len(feat_cols), dtype=np.int64)
        for _ in range(iters):
            dot = xmat @ w  # int64 exact
            z = np.floor(dot.astype(np.float64) / float(FEAT_Q)).astype(np.int64)
            p = np.floor(z.astype(np.float64) / float(SIG_SLOPE_DEN)).astype(
                np.int64
            ) + HALF_Q
            p = np.clip(p, 0, PROB_Q)
            r = y * PROB_Q - p
            g = r @ xmat  # int64 exact
            w = w + np.floor(
                g.astype(np.float64) / float(n * FEAT_Q * LR_DEN)
            ).astype(np.int64)
        return [int(x) for x in w]

    xs = [F.col(c) for c in feat_cols]
    weights = [0] * len(feat_cols)
    feats = feats.select(label_col, *feat_cols).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for _ in range(iters):
            r = (F.col(label_col).cast("bigint") * F.lit(PROB_Q) - _score_q(xs, weights)).alias("_r")
            row = (
                feats.select(r.alias("_r"), *feat_cols)
                .agg(
                    F.count("*").alias("_n"),
                    *[F.sum(F.col("_r") * F.col(c)).alias(f"_g{j}") for j, c in enumerate(feat_cols)],
                )
                .first()
            )
            n = int(row["_n"])
            if n == 0:
                # zero training rows: the gradient sums are NULL and the
                # step divides by zero — fail with the real cause, not a
                # TypeError deep in the iteration loop
                raise ValueError(
                    "lr_fit_quantized: feature frame has no rows — "
                    "nothing to train on"
                )
            weights = [
                w + math.floor(int(row[f"_g{j}"]) / (n * FEAT_Q * LR_DEN))
                for j, w in enumerate(weights)
            ]
    finally:
        feats.unpersist()
    return weights


def lr_score_quantized(
    feats: DataFrame,
    weights: list[int],
    feat_cols: tuple[str, ...] = ("x0", "x1", "x2", "x3"),
) -> DataFrame:
    """Map-side scoring under the trained weights: adds micro-unit
    ``score_q`` and 0/1 ``pred`` (p >= 1/2) columns.  Zero shuffle."""
    p = _score_q([F.col(c) for c in feat_cols], weights)
    return feats.withColumn("score_q", p).withColumn(
        "pred", (F.col("score_q") >= F.lit(HALF_Q)).cast("bigint")
    )
