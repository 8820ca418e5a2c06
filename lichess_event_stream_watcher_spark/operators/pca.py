"""Quantized power-iteration PCA over the embedding corpus.

The top principal component is the workhorse diagnostic for embedding
corpora at curation time: anisotropy (how much variance one direction
eats), drift between snapshots, and the projection histogram that shows
whether a source collapses onto one axis. The reference engine has no
linear algebra at all; this is a beyond-reference operator in the
hash-certified trained family (``kmeans_fit_quantized``,
``lr_fit_quantized``).

Power iteration, fully integer-quantized: vectors quantize to micro-units
once; each round computes per-vector projections s = floor(v_q . w / 1e9)
(milli-units — the coarse rescale keeps the next sum far inside BIGINT),
then the un-normalized update u_j = sum_i s_i * v_q[i][j] (order-independent
integer sum), then re-normalizes DRIVER-SIDE in doubles with a FIXED
summation order (u_1^2 + ... + u_d^2 left-to-right, then one sqrt — sqrt is
correctly rounded everywhere, unlike ln/pow) back to a micro-unit direction.
Every engine replays the identical trajectory, so a DuckDB recursive CTE
carrying the direction list hash-checks the whole thing.

Distributed shape per round: projection is a map-side expression with the
direction INLINED AS LITERALS (no join/broadcast of the corpus); the update
is ONE wide partial agg of d sums — d BIGINTs per partition regardless of
corpus size; d numbers to the driver. |u_j| <= n * 1e9 worst-case: BIGINT-
exact to ~9e9 vectors, and DuckDB's HUGEINT accumulator is exact always;
beyond that, shard the agg and merge per-shard BIGINTs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VEC_Q = 1_000_000  # micro-unit vector / direction scale
PROJ_DIV = 1_000_000_000.0  # micro^2 -> milli-unit projections


def _quantize_vec(vec_col: str, quant: int = VEC_Q) -> Column:
    return F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * F.lit(float(quant))).cast("bigint")
    )


def _proj_milli(vq: Column, w: list[int]) -> Column:
    """floor(vq . w / 1e9) with the direction as ONE array literal.

    The array literal matters for iterative use: a complex-typed literal
    is carried in the codegen references array, not inlined into the
    generated Java source, so every power-iteration round produces the
    IDENTICAL source and hits the codegen cache — vs ~1 s/round of
    recompilation when the direction is spelled as d scalar literals
    (measured 8.7 s -> 5.7 s for the 8-round loop at d=64). The integer
    dot product itself is unchanged (bigint zip_with/aggregate fold ==
    left-to-right term sum), so quantized trajectories are bit-identical.
    ``vq`` is sliced to len(w) first: a vector LONGER than the direction
    projects onto its first len(w) components (the element_at chain's
    semantics) instead of zip_with null-padding the direction and turning
    the whole dot NULL."""
    w_arr = F.lit([int(wj) for wj in w])
    dot = F.aggregate(
        F.zip_with(F.slice(vq, 1, len(w)), w_arr, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return F.floor(dot.cast("double") / F.lit(PROJ_DIV)).cast("bigint")


def _renormalize(u: list[int], quant: int = VEC_Q) -> list[int]:
    """Driver-side micro-unit re-normalization with a FIXED fold order:
    identical IEEE doubles (and therefore identical floors) in every
    engine that evaluates u_1^2 + ... + u_d^2 left-to-right."""
    ss = 0.0
    for uj in u:
        ss = ss + float(uj) * float(uj)
    nrm = math.sqrt(ss)
    if nrm == 0.0:
        return [int(quant)] + [0] * (len(u) - 1)
    return [math.floor(float(uj) * float(quant) / nrm) for uj in u]


def _power_q_pdf(emb: DataFrame, iters: int, dim: int | None, vec_col: str):
    """Small-corpus tier of the quantized power iteration (round 11): the
    whole trajectory from ONE Arrow collect, or ``None`` past the gates.
    Bit-parity: quantization is the same correctly-rounded double product
    + exact floor; per-round projections floor the same exactly-
    representable int64->double quotient (|dot| <= d * 1e6 * |x_q| <<
    2^53 at gate-admitted magnitudes); the update sums are exact int64
    (same wrap as BIGINT, order-free); re-normalization reuses
    ``_renormalize`` verbatim. Bails on NaN elements inside the first
    ``dim`` components (Arrow encodes null floats as NaN and the
    expression path's null-fold semantics must not be guessed); vectors
    shorter than ``dim`` are excluded exactly like the distributed
    filter, and longer ones project on their first ``dim`` components
    (the slice semantics)."""
    import numpy as np

    from .util import small_corpus_pdf

    pdf = small_corpus_pdf(emb.select(F.col(vec_col).alias("v")), emb)
    if pdf is None:
        return None
    vs = [v for v in pdf["v"].to_list() if v is not None]
    if dim is None:
        if not vs:
            return None
        # first() on a local file scan reads the first row in file order,
        # which toPandas preserves — same probe result
        dim = len(vs[0])
    vs = [v for v in vs if len(v) >= dim]
    if not vs:
        return None  # the distributed path owns the no-vectors error
    mat = np.empty((len(vs), dim), dtype=np.float64)
    for i, v in enumerate(vs):
        mat[i] = np.asarray(v[:dim], dtype=np.float64)
    if np.isnan(mat).any():
        return None
    vq = np.floor(mat * float(VEC_Q)).astype(np.int64)
    w = np.array([math.floor(VEC_Q / math.sqrt(dim))] * dim, dtype=np.int64)
    for _ in range(iters):
        s = np.floor((vq @ w).astype(np.float64) / PROJ_DIV).astype(np.int64)
        u = s @ vq
        w = np.array(_renormalize([int(x) for x in u]), dtype=np.int64)
    return [int(x) for x in w]


def power_iteration_quantized(
    emb: DataFrame,
    iters: int = 4,
    dim: int | None = None,
    vec_col: str = "embedding",
) -> list[int]:
    """Top-PC direction in micro-units after ``iters`` quantized power
    rounds from the deterministic all-equal start (floor(1e6/sqrt(d)) per
    coordinate). Per round: map-side milli projections + one d-sum agg.
    Small-corpus tier (round 11): see ``_power_q_pdf`` — one Arrow
    collect replaces the dim probe, the quantize+persist and iters x
    (interpreted projection + explode aggregation + collect); gate
    rejections keep the distributed shape, the 100 TB path."""
    small = _power_q_pdf(emb, iters, dim, vec_col)
    if small is not None:
        return small
    if dim is None:
        first = emb.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        if first is None:
            raise ValueError(
                "power_iteration_quantized: no non-null vectors — nothing to fit"
            )
        dim = len(first[0])
    w = [math.floor(VEC_Q / math.sqrt(dim))] * dim
    # Iterative algorithm: quantize ONCE and persist the integer vectors
    # across all `iters` passes (MEMORY_AND_DISK — at 100 TB the quantized
    # corpus spills to local disk instead of re-reading + re-quantizing the
    # source parquet every round, an iters-fold scan saving).
    # NULL / shorter-than-dim vectors are excluded up front: under ANSI
    # (the Spark 4 session default) element_at past the array end throws
    # and one ragged embedding among billions would abort every round's
    # agg job (round-7 review fix; _proj_milli already tolerates LONGER
    # vectors by slicing to len(w)).
    from pyspark import StorageLevel

    base = (
        emb.select(_quantize_vec(vec_col).alias("vq"))
        .filter(F.col("vq").isNotNull() & (F.size("vq") >= dim))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        for _ in range(iters):
            sh = _proj_milli(F.col("vq"), w).alias("sh")
            # u_j = sum_i s_i * v_q[i][j] as ONE posexplode + groupBy(j)
            # aggregation (round-10): the former d parallel
            # sum(sh * element_at(vq, j)) columns cost ~0.75-1.0 s of
            # DRIVER time per round (py4j construction + analysis of d
            # wide aggregate expressions) against ~0.4 s of execution —
            # the explode form builds in ~0.1 s and executes faster, and
            # the EXCHANGE still carries only d partial sums per
            # partition (the explosion pipelines into the map-side
            # partial agg; nothing n*d-sized ever shuffles), so the
            # at-scale shape is unchanged. Same integers, order-
            # independent bigint sums: trajectories are bit-identical
            # (A/B verified). explode_outer + null filter per the
            # InferFiltersFromGenerate discipline (see dedup.shingles).
            u_rows = (
                base.select(sh, "vq")
                .select(
                    F.posexplode_outer(
                        F.transform("vq", lambda x: F.col("sh") * x)
                    ).alias("j", "sxv")
                )
                .filter(F.col("sxv").isNotNull())
                .groupBy("j")
                .agg(F.sum("sxv").alias("u"))
                .collect()
            )
            if not u_rows:
                raise ValueError(
                    "power_iteration_quantized: no vectors of length >= "
                    f"{dim} — nothing to fit"
                )
            u = {int(r["j"]): int(r["u"]) for r in u_rows}
            w = _renormalize([u[j] for j in range(dim)])
    finally:
        base.unpersist()
    return w


def projection_histogram(
    emb: DataFrame,
    w: list[int],
    bin_width: int = 100,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label histogram of milli-unit top-PC projections: (label, bin,
    n_vecs) with bin = floor(s / bin_width). Map-side projection with the
    trained direction inlined + one tiny (label x ~20 bins) agg."""
    sh = _proj_milli(_quantize_vec(vec_col), w)
    return (
        emb.select(
            F.col(label_col),
            F.floor(sh.cast("double") / F.lit(float(bin_width))).cast("bigint").alias("bin"),
        )
        .groupBy(label_col, "bin")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
    )
