"""Embedding similarity search: brute-force cosine top-k (the baseline) and
random-hyperplane LSH bucketing (the scale path).

Determinism contract (for the DuckDB oracle): dot products are computed as a
LEFT-ASSOCIATIVE sum of per-element double products in array order —
``F.aggregate(zip_with(...))`` folds exactly like the oracle's generated
``t1 + t2 + ... + t64`` chain, so the doubles are bit-identical and rounded
values hash-match.

Scale: brute-force is O(n_queries x corpus) — fine for a broadcast query
set (the queries broadcast, the corpus streams; no shuffle of the corpus).
For corpus-x-corpus search, LSH buckets (or an IVF coarse quantizer) bound
the candidate set; the bucket id is a map-side projection and the join is
bucket-local.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sketch import grouped_topk_threshold
from .util import spread


def serving_topk(
    scored: DataFrame, score_col: str, k: int, descending: bool = True
) -> DataFrame:
    """Final top-k of an ANN serving path: (query_id, neighbor_id,
    score) -> each query's k best with a 1-based ``rank``.

    Degenerate-score contract: candidates whose score is NULL or NaN
    (a zero-norm or NULL embedding makes cosine 0/0) are EXCLUDED before
    ranking — the one guarded filter below. This is deliberate and
    DIFFERS from a raw ``row_number`` window, where Spark's descending
    sort places NaN first and would SERVE the meaningless neighbor at
    rank 1; an unscorable candidate is not a near neighbor. It also
    satisfies ``grouped_topk_threshold``'s non-null key requirement.

    Queries are FEW and each one's scored candidate set is unbounded in
    the corpus (PQ scores ALL n rows per query; IVF/IVF-PQ score
    ~n·nprobe/cells) — the hot-group shape where a plain per-query rank
    window funnels one query's entire candidate set into one task (at
    1e9 vectors that task sorts 1e9 rows). Threshold-pruned top-k
    (``grouped_topk_threshold``, the bm25_topk recipe) keeps per-task
    state bounded: salt-partial extrema bound the k-th best, the raw
    candidates filter map-side against the broadcast threshold, and the
    rank window runs over ~O(k) survivors per query.

    ``descending=True`` ranks best = highest score (similarities); the
    score is negated into a single ascending (neg, neighbor_id) key —
    exact for IEEE doubles and integers, and the neighbor_id tie-break
    matches the window form's (desc score, asc id) ordering. Plan shape
    pinned in tests/test_plans.py (no rank window over the scored
    corpus)."""
    from pyspark.sql.types import DoubleType, FloatType

    s = F.col(score_col)
    # NOT spelled `s == s`: Catalyst folds a self-equality on the same
    # expression tree into a trivially-true predicate, which would let
    # NaN through — the guard must be explicit (isnan exists only for
    # floating types; integer scores can only be NULL)
    keep = s.isNotNull()
    if isinstance(scored.schema[score_col].dataType, (DoubleType, FloatType)):
        keep = keep & ~F.isnan(s)
    neg = (-s) if descending else s
    ranked = grouped_topk_threshold(
        scored.filter(keep).withColumn("_neg", neg),
        "query_id",
        ["_neg", "neighbor_id"],
        k,
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        score_col,
        F.col("rk").cast("bigint").alias("rank"),
    )


# the name several certified queries shipped against; the helper is public
_serving_topk = serving_topk


def dot(a: Column, b: Column) -> Column:
    """Left-fold sum of elementwise double products (deterministic order)."""
    prods = F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def _pair_cos() -> Column:
    """Per-pair cosine from PRE-COMPUTED self-norms ``_qn``/``_cn``
    (attached to the join inputs, so each is evaluated once per VECTOR,
    not once per pair — the inline ``cosine`` form re-folds both
    self-dot-products for every candidate pair, tripling the dominant
    cost of every query x corpus scoring join). Identical left-fold
    doubles in the identical order -> the rounded value is bit-equal to
    the inline form."""
    return dot(F.col("qvec"), F.col("cvec")) / F.sqrt(F.col("_qn") * F.col("_cn"))


def knn_brute_force(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query id.

    The query set broadcasts; ranking uses the ROUNDED cosine with id
    tie-break so ordering is engine-portable. Output:
    (query_id, neighbor_id, cos_sim, rank).
    """
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_qn"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(_pair_cos(), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_bytes: int = 256 << 20,
    max_corpus_bytes: int = 4 << 30,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= threshold).

    Vectorized blocked all-pairs with a SHARDED reference: the corpus splits
    into row shards of at most ``shard_bytes`` of normalized float64 matrix;
    each shard broadcasts separately and the corpus streams against it with
    one BLAS matmul per (partition, shard) — the union over shards is the
    full pair set. No single broadcast, task intermediate, or Arrow batch
    ever scales with the whole corpus, only with one shard. Output cosines
    round to 6 (float64 summation-order noise is ~1e-15, far below the
    rounding grid, so values stay oracle-stable).

    This is still the exact O(n^2) baseline: total compute is all-pairs by
    construction. Above ``max_corpus_bytes`` the function refuses with a
    pointer to ``hyperplane_buckets``/``ivf_ann_topk`` — at that size an
    exact all-pairs scan is the wrong operator, not a tuning problem.
    """
    import numpy as np
    import pandas as pd

    from .session_cache import register_session_broadcast

    spark = emb.sparkSession
    dim = len(emb.select(vec_col).first()[0])
    n = emb.count()
    if n * dim * 8 > max_corpus_bytes:
        raise ValueError(
            f"corpus matrix ~{n * dim * 8 >> 20} MiB exceeds max_corpus_bytes; "
            "exact all-pairs is the wrong operator at this size — bound "
            "candidates with hyperplane_buckets / ivf_ann_topk instead"
        )
    rows_per_shard = max(1, shard_bytes // (dim * 8))
    n_shards = (n + rows_per_shard - 1) // rows_per_shard
    src = emb.select(id_col, vec_col)

    def shard_pairs(shard_idx: int) -> DataFrame:
        rows = src.filter(F.pmod(F.col(id_col), n_shards) == shard_idx).collect()
        if not rows:
            return None
        ref_ids = np.array([r[0] for r in rows], dtype=np.int64)
        ref = np.array([list(r[1]) for r in rows], dtype=np.float64)
        ref /= np.linalg.norm(ref, axis=1, keepdims=True)
        bc = register_session_broadcast(
            spark.sparkContext.broadcast((ref_ids, ref))
        )

        def block(batches):
            rids, rmat = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                a = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
                a /= np.linalg.norm(a, axis=1, keepdims=True)
                # np.round is half-even vs Spark's HALF_UP, but embedding
                # cosines are irrational (float inputs, sqrt norms): an
                # exact decimal tie is measure-zero, unlike the RATIONAL
                # jaccard/tf-cosine values whose dense blocks emit
                # integers and round Spark-side (see dedup/text round-6)
                sims = np.round(a @ rmat.T, 6)
                aid = pdf[id_col].to_numpy(dtype=np.int64)
                mask = (aid[:, None] < rids[None, :]) & (sims >= threshold)
                ai, bj = np.nonzero(mask)
                if len(ai):
                    yield pd.DataFrame(
                        {"id_a": aid[ai], "id_b": rids[bj], "cos_sim": sims[ai, bj]}
                    )

        return spread(src).mapInPandas(block, "id_a bigint, id_b bigint, cos_sim double")

    parts = [p for p in (shard_pairs(s) for s in range(int(n_shards))) if p is not None]
    if not parts:
        return spark.createDataFrame([], "id_a bigint, id_b bigint, cos_sim double")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# -- literal-vector SQL builders --------------------------------------------
# Tiny dims (anchors/centroids) inline as SQL text, ONE py4j call per
# expression instead of ~200 Column-API round trips per vector (64 lits +
# three aggregate folds) — composition time, not execution time. repr()
# round-trips doubles exactly, and the 'D' suffix forces double literals.


def _vec_sql(vec) -> str:
    return "array(" + ", ".join(f"{float(x)!r}D" for x in vec) + ")"


def _dot_sql(col_sql: str, vec) -> str:
    """SQL text of the same left-fold dot product as ``dot`` (bit-identical:
    aggregate folds left in array order)."""
    return (
        f"aggregate(zip_with(cast({col_sql} as array<double>), {_vec_sql(vec)}, "
        "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def _self_dot_sql(col_sql: str) -> str:
    c = f"cast({col_sql} as array<double>)"
    return f"aggregate(zip_with({c}, {c}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _fold_dot_py(a, b) -> float:
    """Python twin of the left-fold dot product (same IEEE add/mul order as
    ``dot`` / ``_dot_sql``): ADC tables built here are bit-equal to an
    oracle's left-associative sum chain — numpy's BLAS ``@`` may reorder
    SIMD lanes and drift in the last ulp."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _self_dot_py(vec) -> float:
    """Python twin of the left-fold self-dot: identical IEEE add/mul order,
    so the constant-folded centroid norm is bit-equal to the SQL fold."""
    acc = 0.0
    for v in vec:
        acc += float(v) * float(v)
    return acc


def hyperplane_buckets(
    emb: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string of dots with anchor
    vectors (anchors: (anchor_id, anchor_vec), tiny -> collected and inlined
    as literal arrays).

    Output: (vec_id, bucket), bits in anchor_id order. The bucket id is a
    pure per-row projection — zero shuffle, zero join at ANY corpus size;
    only the later bucket-local candidate join moves data.

    NOTE: composing this plan runs ``anchors.collect()`` eagerly — a driver
    action at DataFrame-build time (the anchor set is assumed tiny)."""
    avecs = sorted(anchors.collect(), key=lambda r: r[0])
    return emb.select(F.col(id_col), _bucket_expr(avecs, vec_col).alias("bucket"))


def _bucket_expr(avecs, vec_col: str) -> Column:
    """The sign-bit bucket id as a plain Column so callers can attach it to
    the corpus WITHOUT a join back on id."""
    if not avecs:
        raise ValueError("hyperplane_buckets needs >=1 anchor vector")
    bits = ", ".join(
        f"CASE WHEN {_dot_sql(vec_col, r[1])} >= 0 THEN '1' ELSE '0' END" for r in avecs
    )
    return F.expr(f"concat({bits})")


def _round6_half_up(x: float) -> float:
    """Spark's ``round(double, 6)``: BigDecimal(Double.toString(x))
    .setScale(6, HALF_UP).toDouble, replayed exactly. Fast path: away
    from a .5 boundary at the 7th decimal, floor(|x|*1e6 + 0.5) (with
    the sign restored — HALF_UP rounds away from zero) is the HALF_UP
    of EVERY faithful decimal representation of x, because all of them
    live within float arithmetic error (~1e-10 at |x| <= ~1e3) of
    x*1e6, far inside the 1e-4 guard band. Inside the band, python's
    Decimal(repr(x)) replays the decimal-string construction — repr and
    Double.toString both emit a shortest decimal that round-trips to x,
    so both lie in the half-ulp interval around x and round identically
    unless the .5 boundary itself splits that interval (an interval of
    width ~1e-16 around a number that is never exactly representable —
    not reachable from the fixture's rounded inputs; the conf-toggle pin
    test in tests/test_r11_equivalence.py covers the live corpus)."""
    import math

    v = abs(x) * 1e6
    f = math.floor(v)
    if abs(v - f - 0.5) > 1e-4:
        r = math.floor(v + 0.5) / 1e6
    else:
        from decimal import ROUND_HALF_UP, Decimal

        r = float(
            Decimal(repr(abs(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )
    return -r if x < 0 else r


def _nearest_cells_pdf(emb: DataFrame, cvecs, n: int, id_col: str, vec_col: str):
    """Small-corpus tier of ``nearest_cells`` (round 11, VERDICT r10 task
    #10): the centroid ranking is a pure per-row function of (vector,
    centroid literals), so for a gate-admitted input ONE Arrow collect +
    numpy replaces the k-struct scoring expression — whose k x dim raw
    SQL dot products cost seconds of ANALYSIS/codegen per call before a
    single row is scored, then evaluate as interpreted aggregate/zip_with
    folds per row.

    Bit-parity, step by step: the left-fold dot and self-dot replay in
    ascending-j vectorized accumulation (per row the identical IEEE
    multiply/add sequence as the SQL fold); centroid self-dots reuse
    ``_self_dot_py`` (the same constant the SQL constant-folds);
    ``sqrt``/division are single correctly-rounded ops in both engines;
    ``round(.,6)`` replays via ``_round6_half_up``; and the descending
    (sim, asc cent_id) ranking is an exact lexsort on the rounded
    doubles. Bails to the expression path on: inestimable/large inputs,
    null/NaN ids, null vectors, NaN elements, mixed or centroid-mismatched
    vector lengths (zip_with null-padding semantics), and non-finite
    cosines (Spark's NaN ordering semantics) — the expression path is
    the unchanged 100 TB shape."""
    import numpy as np
    import pandas as pd

    from .util import small_corpus_pdf

    pdf = small_corpus_pdf(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        emb,
        nonnull=("id", "v"),
    )
    if pdf is None or len(pdf) == 0:
        return None
    vs = pdf["v"].to_list()
    lens = {len(v) for v in vs}
    d = len(cvecs[0][1])
    if lens != {d} or any(len(r[1]) != d for r in cvecs):
        return None
    mat = np.empty((len(vs), d), dtype=np.float64)
    for i, v in enumerate(vs):
        mat[i] = np.asarray(v, dtype=np.float64)
    if np.isnan(mat).any():
        return None
    k = len(cvecs)
    cmat = np.array([[float(x) for x in r[1]] for r in cvecs], dtype=np.float64)
    na = np.zeros(len(vs))
    dots = np.zeros((len(vs), k))
    for j in range(d):
        col = mat[:, j]
        na += col * col
        dots += col[:, None] * cmat[None, :, j]
    nb = np.array([_self_dot_py(r[1]) for r in cvecs])
    with np.errstate(invalid="ignore", divide="ignore"):
        raw = dots / np.sqrt(na[:, None] * nb[None, :])
    if not np.isfinite(raw).all():
        return None
    rq = np.vectorize(_round6_half_up, otypes=[np.float64])(raw)
    cids = np.array([int(r[0]) for r in cvecs], dtype=np.int64)
    order = np.lexsort(
        (np.broadcast_to(cids, rq.shape), -rq), axis=-1
    )[:, : min(n, k)]
    reps = order.shape[1]
    id_t = emb.schema[id_col].dataType.simpleString()
    vec_t = emb.schema[vec_col].dataType.simpleString()
    out = pd.DataFrame(
        {
            id_col: pdf["id"].to_numpy().repeat(reps),
            vec_col: pdf["v"].to_numpy().repeat(reps),
            "cent_id": cids[order].ravel(),
            "cell_rank": np.tile(np.arange(1, reps + 1, dtype=np.int64), len(vs)),
        }
    )
    return emb.sparkSession.createDataFrame(
        out, schema=f"{id_col} {id_t}, {vec_col} {vec_t}, cent_id bigint, cell_rank bigint"
    )


def nearest_cells(
    emb: DataFrame,
    centroids: DataFrame,
    n: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: rank broadcast centroids (cent_id, cent_vec) by
    rounded cosine against each vector; keep the top-``n`` cells.

    The centroid set is tiny, so it collects to the driver and inlines as
    literal arrays: scoring + ranking is a pure per-row projection (an
    array_sort over ~|centroids| struct elements) — zero shuffle, zero join
    of the corpus. Output: (<id_col>, <vec_col>, cent_id, cell_rank).

    NOTE: composing this plan runs ``centroids.collect()`` eagerly — a
    driver action at DataFrame-build time (the centroid set is assumed
    tiny)."""
    cvecs = sorted(centroids.collect(), key=lambda r: r[0])
    if not cvecs:
        raise ValueError("nearest_cells needs >=1 centroid vector")
    small = _nearest_cells_pdf(emb, cvecs, n, id_col, vec_col)
    if small is not None:
        return small
    # the row's self-dot is shared by every centroid comparison; centroid
    # self-dots constant-fold driver-side (same left-fold order -> same bits)
    norm_a = F.expr(_self_dot_sql(vec_col)).alias("_na")
    structs = ", ".join(
        "named_struct('cell_sim', round({dot} / sqrt(_na * {nb!r}D), 6), "
        "'cent_id', CAST({cid} AS BIGINT))".format(
            dot=_dot_sql(vec_col, r[1]), nb=_self_dot_py(r[1]), cid=int(r[0])
        )
        for r in cvecs
    )
    scored = F.expr(f"array({structs})")
    # desc by similarity, asc by cent_id on ties — comparator keeps the
    # rounded-double ordering identical to the SQL ORDER BY
    ranked = F.slice(
        F.array_sort(
            scored,
            lambda a, b: F.when(a["cell_sim"] > b["cell_sim"], F.lit(-1))
            .when(a["cell_sim"] < b["cell_sim"], F.lit(1))
            .otherwise((a["cent_id"] - b["cent_id"]).cast("int")),
        ),
        1,
        n,
    )
    return (
        emb.select(F.col(id_col), F.col(vec_col), norm_a)
        .select(F.col(id_col), F.col(vec_col), F.posexplode(ranked).alias("_pos", "_cell"))
        .select(
            id_col,
            vec_col,
            F.col("_cell.cent_id").alias("cent_id"),
            (F.col("_pos") + 1).cast("bigint").alias("cell_rank"),
        )
    )


def ivf_ann_topk(
    emb: DataFrame,
    centroids: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: each corpus vector lives in its single
    nearest cell; a query probes its ``nprobe`` nearest cells and ranks
    exactly within them.

    Scale shape: cell assignment is a broadcast map (no corpus shuffle),
    the candidate join is cell-local with the tiny probe side broadcast,
    and the final ranking window partitions by query — the corpus is never
    shuffled and never compared all-pairs. Recall trades with centroid
    count x nprobe. Output: (query_id, neighbor_id, cos_sim, rank)."""
    cells = nearest_cells(emb, centroids, 1, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("cent_id").alias("cell"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_cn"),
    )
    probes = nearest_cells(
        emb.filter(F.col(id_col).isin(query_ids)), centroids, nprobe, id_col, vec_col
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("cent_id").alias("cell"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_qn"),
    )
    scored = (
        cells.join(F.broadcast(probes), ["cell"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(_pair_cos(), 6))
    )
    return _serving_topk(scored, "cos_sim", k)


def lsh_ann_topk(
    emb: DataFrame,
    anchors: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the query's LSH
    bucket. Recall trades with bucket count (anchor bits). The bucket id is
    attached as a projection column — never a join of the corpus back onto
    its own bucket table."""
    avecs = sorted(anchors.collect(), key=lambda r: r[0])
    with_bucket = emb.withColumn("bucket", _bucket_expr(avecs, vec_col))
    q = with_bucket.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("bucket"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_qn"),
    )
    c = with_bucket.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("bucket"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_cn"),
    )
    scored = c.join(F.broadcast(q), ["bucket"]).filter(
        F.col("neighbor_id") != F.col("query_id")
    ).withColumn("cos_sim", F.round(_pair_cos(), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ann_cost_census(
    emb: DataFrame,
    centroids: DataFrame,
    anchors: DataFrame,
    query_ids: list[int],
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scored-candidate volume per ANN serving route per query —
    (method, query_id, n_scored), the serving-side twin of
    ``dedup_cost_census``: n_scored is the number of corpus vectors each
    route actually evaluates before its top-k, i.e. the quantity the
    threshold-pruned serving shape (SCALE.md) exists to bound. Brute
    force (and PQ, which ADC-scores the same set) touches the whole
    corpus minus self; IVF touches the query's ``nprobe`` probed cells;
    hyperplane LSH touches the query's bucket. Counts reuse the exact
    assignment projections the serving paths run (rounded cosine +
    cent_id tie-break; sign-bit buckets), so the census IS each route's
    candidate set cardinality, not an estimate. Physical shape: two
    map-side assignment projections + bounded broadcast probe joins +
    per-query counts; no route's scoring or ranking runs."""
    qids = [int(q) for q in query_ids]
    qf = F.col(id_col).isin(qids)
    n_corpus = emb.agg(F.count("*").cast("bigint").alias("_n"))
    brute = (
        emb.filter(qf)
        .select(F.col(id_col).alias("query_id"))
        .crossJoin(F.broadcast(n_corpus))
        .select(
            F.lit("brute_force").alias("method"),
            F.col("query_id").cast("bigint").alias("query_id"),
            (F.col("_n") - 1).cast("bigint").alias("n_scored"),
        )
    )
    cells = nearest_cells(emb, centroids, 1, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("cent_id").alias("cell")
    )
    probes = nearest_cells(emb.filter(qf), centroids, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("cent_id").alias("cell")
    )
    ivf = (
        cells.join(F.broadcast(probes), ["cell"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy(F.col("query_id").cast("bigint").alias("query_id"))
        .agg(F.count("*").cast("bigint").alias("n_scored"))
        .select(F.lit("ivf").alias("method"), "query_id", "n_scored")
    )
    bucketed = hyperplane_buckets(emb, anchors, id_col, vec_col)
    qb = bucketed.filter(qf).select(F.col(id_col).alias("query_id"), "bucket")
    lsh = (
        bucketed.select(F.col(id_col).alias("neighbor_id"), "bucket")
        .join(F.broadcast(qb), ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy(F.col("query_id").cast("bigint").alias("query_id"))
        .agg(F.count("*").cast("bigint").alias("n_scored"))
        .select(F.lit("lsh").alias("method"), "query_id", "n_scored")
    )
    counts = brute.unionAll(ivf).unionAll(lsh)
    # explicit zeros: a query whose bucket/cells hold no candidates must
    # read n_scored = 0, not a missing row (a groupBy over an empty
    # candidate set emits nothing) — scaffold every (method, query).
    # Built from the query_ids LITERALS, not emb.filter(isin): the oracle
    # scaffolds unnest([...]), so a query id absent from the embeddings
    # table must still yield its three zero rows on both sides.
    spark = emb.sparkSession
    scaffold = spark.createDataFrame(
        [(q,) for q in qids], "query_id bigint"
    ).select(
        "query_id",
        F.explode(
            F.array(F.lit("brute_force"), F.lit("ivf"), F.lit("lsh"))
        ).alias("method"),
    )
    return scaffold.join(counts, ["method", "query_id"], "left").select(
        "method",
        "query_id",
        F.coalesce(F.col("n_scored"), F.lit(0)).cast("bigint").alias("n_scored"),
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means — trains the IVF coarse quantizer that
    ``ivf_ann_topk`` otherwise requires as input.

    Deterministic by construction: init picks the k corpus vectors ranked
    by md5(id) (no RNG), and assignment reuses ``nearest_cells``'s rounded
    cosine + cent_id tie-break. Per iteration the cell assignment is the
    same inlined-literal map-side projection as serving (zero shuffle, zero
    join of the corpus) and the update is ONE groupBy carrying ``dim``
    column averages — k*dim cells of partial-agg state through the
    shuffle, k rows to the driver. Empty cells keep their previous
    centroid.

    Iterative and therefore non-SQL-expressible as one query (driver check
    is rows-only); the pytest twin pins it against a numpy implementation
    on a separable fixture.
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    spark = emb.sparkSession

    def as_df(cents: list[list[float]]) -> DataFrame:
        return spark.createDataFrame(
            [(i, v) for i, v in enumerate(cents)], "cent_id bigint, cent_vec array<double>"
        )

    seeds = (
        emb.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .select(vec_col)
        .collect()
    )
    cents = [[float(x) for x in r[0]] for r in seeds]
    for _ in range(iters):
        means = (
            nearest_cells(emb, as_df(cents), 1, id_col, vec_col)
            .groupBy("cent_id")
            .agg(*[F.avg(F.col(vec_col)[i]).alias(f"_m{i}") for i in range(dim)])
            .collect()
        )
        nxt = list(cents)
        for r in means:
            nxt[int(r["cent_id"])] = [float(r[f"_m{i}"]) for i in range(dim)]
        cents = nxt
    return as_df(cents)


def lsh_ann_topk_multiprobe(
    emb: DataFrame,
    anchors: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH top-k: each query searches its own bucket PLUS every
    bucket at Hamming distance 1 (one sign bit flipped) — the standard
    recall booster (Lv et al., VLDB'07 "Multi-Probe LSH"): near neighbors
    that landed just across one hyperplane are recovered without doubling
    the anchor count or rebuilding the index.

    The probe expansion is a per-QUERY map-side explode (bits+1 rows per
    query — the probe side stays tiny and broadcasts); the corpus is still
    touched exactly once with its single-bucket projection. Candidates
    cannot duplicate across probes (a corpus vector has ONE bucket), so no
    distinct is needed before ranking."""
    avecs = sorted(anchors.collect(), key=lambda r: r[0])
    nb = len(avecs)
    with_bucket = emb.withColumn("bucket", _bucket_expr(avecs, vec_col))

    def flip(i: int) -> Column:
        return F.concat(
            F.substring("bucket", 1, i - 1),
            F.when(F.substring("bucket", i, 1) == "1", F.lit("0")).otherwise(F.lit("1")),
            F.substring("bucket", i + 1, nb),
        )

    q = (
        with_bucket.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode(F.array(F.col("bucket"), *[flip(i) for i in range(1, nb + 1)])).alias(
                "bucket"
            ),
            dot(F.col(vec_col), F.col(vec_col)).alias("_qn"),
        )
    )
    c = with_bucket.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("bucket"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(_pair_cos(), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def pq_fit(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 5,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Product-quantization codebooks (Jegou/Douze/Schmid, TPAMI'11):
    split the vector into ``m`` subspaces and k-means each independently.

    Training runs DRIVER-SIDE on a bounded deterministic sample (rows
    ranked by md5(id), standard FAISS practice — codebooks need ~10-100x k
    training points, not the corpus), so training cost is O(sample), fixed
    at any corpus size. Everything that touches the full corpus
    (``pq_encode``, ``pq_ann_topk``) stays distributed and map-side.
    Deterministic end to end: md5 sample order, first-k init, fixed
    iterations, index tie-breaks.

    Returns ``m`` numpy arrays of shape (k, dim/m).
    """
    import numpy as np

    sample = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(train_sample)
        .collect()
    )
    X = np.array([r.v for r in sample], dtype=np.float64)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        cents = S[: min(k, n)].copy()
        if len(cents) < k:  # degenerate tiny corpus: pad by repetition
            cents = np.vstack([cents] * ((k // len(cents)) + 1))[:k]
        for _ in range(iters):
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                pts = S[assign == c]
                if len(pts):
                    cents[c] = pts.mean(axis=0)
        books.append(cents)
    return books


def _pq_code_expr(books, vec_col: str):
    """Map-side PQ encoding: per subspace, the argmin-L2 codeword index
    via min over (−2·x·c + |c|²) — |x|² is constant per row so it never
    needs computing. Arrow-batched Pandas UDF, zero shuffle.

    Why a Pandas UDF and not Catalyst: exact encode is m·k·dsub FLOPs
    per row (16·256·4 = 16k here). Spelled as a scalar expression tree
    that's 16k nodes — far past the JIT method-size limit, so it
    evaluates INTERPRETED at ~1 ms/row (9 CPU-days per 1e9 vectors);
    higher-order functions are interpreted per element too. The numpy
    form runs the same arithmetic vectorized over the Arrow batch at
    ~µs/row. Determinism is preserved exactly: the per-codeword dot is
    an explicit left fold of elementwise vector ops — acc = (((0 +
    x₁c₁) + x₂c₂) + …) — each step IEEE-identical to the scalar chain
    the DuckDB oracle evaluates, the norms are the same driver-side
    ``_self_dot_py`` doubles, and ``np.argmin``'s first-minimum tie
    break equals the (distance, code) struct-min's ascending-code rule."""
    import numpy as np
    import pandas as pd

    m = len(books)
    dsub = books[0].shape[1]
    dim = m * dsub
    books_py = [[[float(x) for x in cv] for cv in book] for book in books]
    norms_py = [[_self_dot_py(cv) for cv in book] for book in books]
    k = len(books_py[0])

    def encode(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        rows = vecs.tolist()
        # a NULL or short embedding row yields NULL codes — the row-level
        # verdict the Catalyst expression form returned — instead of
        # np.array raising on the ragged batch and aborting the task
        cand = [i for i, v in enumerate(rows) if v is not None and len(v) >= dim]
        result = [None] * len(rows)
        if cand:
            X = np.array([rows[i][:dim] for i in cand], dtype=np.float64)
            # In-list NULL elements arrive as NaN inside the float64
            # ndarray (Arrow's list<double> null slots — `x is None` never
            # fires on this path), so the NULL-element check must be a NaN
            # check on the converted batch. Rows with any NaN/NULL element
            # get NULL codes, same row-level verdict as a NULL embedding;
            # a genuine NaN payload value is indistinguishable from a NULL
            # slot post-Arrow and deliberately shares that verdict
            # (pinned in tests/test_pipeline_ops.py::
            # test_pq_encode_null_and_nan_elements_yield_null_codes).
            ok = ~np.isnan(X).any(axis=1)
            valid = [i for i, good in zip(cand, ok) if good]
            X = X[ok]
        else:
            valid = []
        if valid:
            n = len(X)
            out = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                scores = np.empty((n, k), dtype=np.float64)
                for c in range(k):
                    cv = books_py[j][c]
                    acc = np.zeros(n, dtype=np.float64)
                    for t in range(dsub):
                        acc = acc + sub[:, t] * cv[t]
                    scores[:, c] = -2.0 * acc + norms_py[j][c]
                # NaN distance = "infinitely far": Spark's struct min and
                # the DuckDB oracle both sort NaN GREATEST; np.argmin
                # would sort it first, so remap before the argmin (ties
                # among +inf resolve to the lowest code, same as the
                # struct-min's cid tie break on equal NaNs)
                scores[np.isnan(scores)] = np.inf
                out[:, j] = np.argmin(scores, axis=1)
            for row_idx, codes in zip(valid, out):
                result[row_idx] = [int(c) for c in codes]
        return pd.Series(result)

    # annotations set programmatically so pandas stays a lazy import
    # (module convention: heavy deps import inside the functions needing
    # them) while pandas_udf's type-hint inference sees real class objects
    encode.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return F.pandas_udf("array<int>")(encode)(F.col(vec_col).cast("array<double>"))


def pq_encode(
    emb: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes): each corpus vector compressed to ``m`` small ints —
    dim*4 bytes -> m bytes of index payload at serving time."""
    return emb.select(
        F.col(id_col), _pq_code_expr(books, vec_col).alias("codes")
    )


def ivf_cell_occupancy(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-quantizer balance audit: (cell, n_members) for every
    centroid, explicit zeros for empty cells — the IVF-artifact twin of
    ``pq_distortion_census``. A skewed occupancy table means probe cost
    varies wildly per query (one hot cell ≈ brute force for the queries
    that probe it) and the quantizer needs retraining; at serving scale
    this table IS the per-cell candidate-volume distribution
    ``ann_cost_census`` samples per query. Physical shape: the serving
    path's own map-side cell assignment, one k-group count, and a left
    join from the k-row centroid dimension for the zeros — the corpus
    never shuffles (the count partial-aggregates map-side).

    Driver-registered round 7 (queries_pipeline.py ``ivf_cell_occupancy``;
    oracle = the _IVF_ORACLE assign CTE with the rank window replaced by
    a GROUP BY + centroid scaffold)."""
    counts = (
        nearest_cells(emb, centroids, 1, id_col, vec_col)
        .groupBy(F.col("cent_id").alias("cell"))
        .agg(F.count("*").cast("bigint").alias("n_members"))
    )
    dim = centroids.select(F.col("cent_id").cast("bigint").alias("cell"))
    return dim.join(counts, ["cell"], "left").select(
        "cell",
        F.coalesce(F.col("n_members"), F.lit(0)).cast("bigint").alias(
            "n_members"
        ),
    )


def pq_distortion_census(
    emb: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subquantizer quantization distortion of a (frozen) PQ codebook
    over the corpus: (subspace, n_vecs, total_err_micro, mean_err_micro)
    — the trained-artifact quality table a serving team reads before
    trusting a codebook (a subspace whose distortion dwarfs the others
    is under-trained or carries a scale outlier). err = ||x_j - c||^2 =
    dist(x_j, c) + x_j.x_j for the ENCODED code c, quantized to integer
    micro-units per row before any sum crosses an aggregation.

    Physical shape: one certified Arrow-batch encode pass, a 16-row
    posexplode per vector, a broadcast-hash join against the m*k(=256)
    codeword table, map-side 4-term IEEE folds written in the oracle's
    exact associativity, and a 16-group aggregation — the corpus text
    never shuffles and no strategy's 16k-term scoring tree is rebuilt.
    NULL/short embeddings take the encode path's NULL-codes verdict and
    drop out of the census (the fixture corpus has none)."""
    m = len(books)
    dsub = books[0].shape[1]
    rows = []
    for j, book in enumerate(books):
        for c, cv in enumerate(book):
            rows.append(
                (j, int(c), [float(x) for x in cv], float(_self_dot_py(cv)))
            )
    cb = emb.sparkSession.createDataFrame(
        rows, "j int, code int, cw array<double>, nb double"
    )
    coded = emb.select(
        F.col(id_col), F.col(vec_col), _pq_code_expr(books, vec_col).alias("_codes")
    ).filter(F.col("_codes").isNotNull())
    expl = coded.select(
        F.col(vec_col), F.posexplode("_codes").alias("j", "code")
    )
    adot = " + ".join(
        f"CAST(element_at({vec_col}, j * {dsub} + {i}) AS DOUBLE) * "
        f"element_at(cw, {i})"
        for i in range(1, dsub + 1)
    )
    sdot = " + ".join(
        f"CAST(element_at({vec_col}, j * {dsub} + {i}) AS DOUBLE) * "
        f"CAST(element_at({vec_col}, j * {dsub} + {i}) AS DOUBLE)"
        for i in range(1, dsub + 1)
    )
    # ((-2*adot) + nb) + sdot — the oracle's dist-then-selfdot chain,
    # parenthesized identically so the double is bit-equal pre-round
    err_micro = F.expr(
        f"CAST(round(((-2.0D * ({adot}) + nb) + ({sdot})) * 1000000.0, 0) "
        f"AS BIGINT)"
    )
    return (
        expl.join(F.broadcast(cb), ["j", "code"])
        .select(F.col("j").cast("bigint").alias("subspace"), err_micro.alias("_e"))
        .groupBy("subspace")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum("_e").cast("bigint").alias("total_err_micro"),
            F.expr("CAST(SUM(_e) DIV COUNT(*) AS BIGINT)").alias(
                "mean_err_micro"
            ),
        )
    )


def pq_ann_topk(
    emb: DataFrame,
    books,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC): each
    query precomputes its (m x k) inner-product table against the
    codebooks driver-side (tiny), the corpus is scored map-side by m
    table lookups on its codes — the full vectors are read once to encode
    and never shuffled; the per-query fanout is a deliberate broadcast of
    |queries| rows. Output: (query_id, neighbor_id, approx_ip, rank)."""
    import numpy as np

    qrows = {r[0]: np.array(r[1], dtype=np.float64) for r in (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col), F.col(vec_col))
        .collect()
    )}
    m = len(books)
    dsub = books[0].shape[1]
    coded = pq_encode(emb, books, id_col, vec_col).withColumnRenamed(id_col, "neighbor_id")
    qtab_rows = [
        (
            int(qid),
            [
                [_fold_dot_py(qrows[qid][j * dsub : (j + 1) * dsub], cv) for cv in books[j]]
                for j in range(m)
            ],
        )
        for qid in sorted(qrows)
    ]
    # createDataFrame instead of an m*k-literal SQL string per query: the
    # ADC tables arrive as data (zero parse/analyze cost), same doubles
    queries = emb.sparkSession.createDataFrame(
        qtab_rows, "query_id bigint, tab array<array<double>>"
    )
    score = F.expr(
        "aggregate(zip_with(codes, tab, (c, row) -> element_at(row, cast(c as int) + 1)),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    scored = (
        coded.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(score, 6).alias("approx_ip"))
    )
    return _serving_topk(scored, "approx_ip", k)


def ivfpq_ann_topk(
    emb: DataFrame,
    centroids: DataFrame,
    books,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full FAISS-style serving path: IVF coarse cells bound the
    candidate set (each query touches ``nprobe`` cells, not the corpus),
    PQ codes make the per-candidate cost m table lookups instead of a
    d-dim dot product. Corpus side = one map-side projection (cell id via
    inlined-literal Catalyst, codes via the Arrow-batched encode); query
    side = tiny driver tables; the join is cell-local with the probe side
    broadcast. At 100 TB: corpus scanned once, never shuffled, candidates
    ~ corpus/(cells/nprobe), each candidate scored in m adds."""
    import numpy as np

    m = len(books)
    dsub = books[0].shape[1]
    coded = nearest_cells(emb, centroids, 1, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("cent_id").alias("cell"),
        _pq_code_expr(books, vec_col).alias("codes"),
    )
    qvecs = {r[0]: np.array(r[1], dtype=np.float64) for r in (
        emb.filter(F.col(id_col).isin(query_ids)).select(id_col, vec_col).collect()
    )}
    probes = nearest_cells(
        emb.filter(F.col(id_col).isin(query_ids)), centroids, nprobe, id_col, vec_col
    ).select(F.col(id_col).alias("query_id"), F.col("cent_id").alias("cell"))
    # ADC tables arrive as data via createDataFrame (zero parse/analyze
    # cost — same rationale as pq_ann_topk), same doubles
    tab_rows = [
        (
            int(qid),
            [
                [_fold_dot_py(qvecs[qid][j * dsub : (j + 1) * dsub], cv) for cv in books[j]]
                for j in range(m)
            ],
        )
        for qid in sorted(qvecs)
    ]
    tabs = emb.sparkSession.createDataFrame(
        tab_rows, "query_id bigint, tab array<array<double>>"
    )
    score = F.expr(
        "aggregate(zip_with(codes, tab, (c, row) -> element_at(row, cast(c as int) + 1)),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    scored = (
        coded.join(F.broadcast(probes.join(tabs, "query_id")), ["cell"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(score, 6).alias("approx_ip"))
    )
    return _serving_topk(scored, "approx_ip", k)


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: coarse k-means cells as the
    blocking key, exact cosine pruning within each cell.

    Every vector is assigned to its nearest centroid (a map-side literal
    projection via ``nearest_cells`` — zero corpus shuffle), then pairs are
    searched ONLY within a cell; a vector is a semantic duplicate if some
    LOWER-id vector in its cell has rounded cosine >= ``threshold`` (the
    canonical representative of a duplicate set is its smallest id, so the
    verdict is deterministic and engine-portable).

    Scale shape (the SemDeDup paper's own argument): the cell count bounds
    the quadratic term — with k cells sized so that |cell| ~ n/k stays in
    the 1e4-1e5 range, the cell-local self-join is n^2/k comparisons spread
    over k independent keys; the corpus shuffles once on cell and once on
    id_b for the verdict join. A hot cell (over-dense embedding region) is
    bounded by raising k — the same lever as IVF; no global state, no
    driver round-trips beyond the tiny centroid collect.

    Output: one row PER INPUT VECTOR — (id, cell, keep); keep=false marks
    vectors to drop."""
    # Round-10 (guide §4.2, §2.3): the cell-local pair scoring used to be a
    # cell-keyed self-JOIN evaluating the zip_with/aggregate dot per pair —
    # an interpreted (CodegenFallback) 64-element fold on every one of the
    # ~n^2/k candidate pairs, plus a second corpus shuffle for the join's
    # other side. It is now ONE groupBy(cell).applyInPandas block per cell:
    # the same left-fold order runs VECTORIZED across all pairs at once
    # (accumulate v[:, j] outer products in ascending j — per pair that is
    # the identical IEEE multiply/add sequence, so every cosine is
    # bit-equal to the join form's), and each member ships back only its
    # BEST lower-id cosine. round() is monotone non-decreasing, so
    # round(max cos) >= t iff some pair has round(cos) >= t — the exact
    # Spark round()-based filter below is unchanged and decides ties
    # identically. NaN cosines (zero-norm / null-element vectors, whose
    # pairs the join form dropped via null/NaN comparisons) are ignored by
    # the in-block nanmax, and vectors of differing lengths never pair
    # (zip_with's null padding nulled those cosines) — per-length classes
    # reproduce that. One corpus shuffle (the group-by), no pair-sized
    # rows ever shuffled; cell size is bounded by the operator's sizing
    # rule (the same bound the join's per-cell fanout relied on).
    import numpy as np
    import pandas as pd

    cells = nearest_cells(emb, centroids, 1, id_col, vec_col).select(
        F.col(id_col), F.col(vec_col).alias("_v"), F.col("cent_id").alias("cell")
    )
    id_type = emb.schema[id_col].dataType.simpleString()

    def _best_lower_cos(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort", ignore_index=True)
        vecs = [
            None if v is None else np.asarray(v, dtype=np.float64)
            for v in pdf["_v"]
        ]
        lens = np.array([-1 if v is None else len(v) for v in vecs])
        out_ids, out_best = [], []
        for d in np.unique(lens):
            if d < 0:
                continue  # null vectors: every pair cosine is null -> dropped
            idx = np.flatnonzero(lens == d)
            m = len(idx)
            if m < 2:
                continue
            v_mat = np.empty((m, int(d)), dtype=np.float64)
            for r, i in enumerate(idx):
                v_mat[r] = vecs[i]
            nrm = np.zeros(m)
            for j in range(int(d)):
                col = v_mat[:, j]
                nrm += col * col
            # Bounded-memory pair scoring (round-11, r10 ADVICE): the
            # full m x m cosine matrix is O(m^2) floats — ~80 GB at the
            # docstring's 1e5 cell ceiling, where the pre-r10 join form
            # streamed pairs. Score in COLUMN BLOCKS instead: for each
            # block of "partner" members, accumulate the m x B
            # intersection by ascending-j outer products — per PAIR that
            # is the identical IEEE multiply/add sequence the full-matrix
            # form (and the original join's zip_with/aggregate left fold)
            # executes, so every cosine stays bit-equal — and fold the
            # per-member best into a running max. Peak extra memory is
            # O(m * B) (~3 x 64 MB at the default block), independent of
            # cell size.
            best = np.full(m, -np.inf)
            blk = max(1, min(m, (1 << 23) // max(m, 1)))
            row_idx = np.arange(m)
            tmp = np.empty((m, blk))
            for c0 in range(0, m, blk):
                c1 = min(c0 + blk, m)
                w = c1 - c0
                inter = np.zeros((m, w))
                t = tmp[:, :w]
                for j in range(int(d)):
                    col = v_mat[:, j]
                    np.multiply(col[:, None], col[None, c0:c1], out=t)
                    inter += t
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = inter / np.sqrt(
                        np.outer(nrm, nrm[c0:c1])
                    )
                # partner column j (global c0+jj) takes the max over rows
                # i < j only (id order); NaN cosines (dropped pairs) mask
                # to -inf exactly as before
                cos[np.isnan(cos)] = -np.inf
                cos[row_idx[:, None] >= np.arange(c0, c1)[None, :]] = -np.inf
                np.maximum(best[c0:c1], cos.max(axis=0), out=best[c0:c1])
            ok = np.isfinite(best)
            if ok.any():
                out_ids.append(pdf[id_col].to_numpy()[idx[ok]])
                out_best.append(best[ok])
        if not out_ids:
            return pd.DataFrame({id_col: [], "_best": []})
        return pd.DataFrame(
            {id_col: np.concatenate(out_ids), "_best": np.concatenate(out_best)}
        )

    best_cos = cells.groupBy("cell").applyInPandas(
        lambda pdf: _best_lower_cos(pdf), f"{id_col} {id_type}, _best double"
    )
    dups = (
        best_cos.filter(F.round(F.col("_best"), 6) >= threshold)
        .select(id_col)
        .withColumn("_dup", F.lit(True))
    )
    return (
        cells.select(id_col, "cell")
        .join(dups, id_col, "left")
        .select(
            id_col,
            "cell",
            (~F.coalesce(F.col("_dup"), F.lit(False))).alias("keep"),
        )
    )


def semantic_dedup_auto(
    emb: DataFrame,
    threshold: float,
    target_cell: int = 2000,
    min_cells: int = 8,
    max_cells: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`semantic_dedup` with the CELL COUNT scaled to the corpus —
    the production form of the k lever the round-8 scale probe measured
    (fixed k=8 at 8x corpus: 25-27 s; k=64: 6.8 s).

    ``k = clamp(ceil(n / target_cell), min_cells, max_cells)`` keeps the
    expected cell size (and therefore the n^2/k cell-local pair term's
    PER-CELL share) bounded as the corpus grows — the SemDeDup sizing
    rule. Centroids are the ``k`` lowest-id vectors (deterministic and
    derivable in any SQL oracle from the same count; swap in trained
    k-means centroids via :func:`semantic_dedup` directly when blocking
    quality matters more than oracle portability). The corpus pass for
    ``n`` is one count job — the same bounded-probe pattern as the
    jaccard_pairs dense gate."""
    n = emb.count()
    k = min(max_cells, max(min_cells, -(-n // target_cell)))
    centroids = (
        emb.orderBy(F.col(id_col))
        .limit(int(k))
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    return semantic_dedup(emb, centroids, threshold, id_col, vec_col)


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric absmax int8 scalar quantization of an embedding column —
    the standard 4x-compression layout for serving/storage of vector
    corpora (per-vector scale, codes = floor(x / scale * 127)).

    Pure map-side projection: no shuffle, no state, embarrassingly
    parallel at any corpus size. floor (not round) keeps the code bytes
    engine-portable: both engines floor the identical IEEE double, whereas
    HALF_UP vs banker's rounding diverge on exact .5 products.

    Output per vector: (id, scale, codes_md5, n_sat, recon_err) — scale is
    the absmax (rounded 6), codes_md5 hashes the comma-joined code array
    (certifying every byte without an array-typed compare), n_sat counts
    saturated codes (|code| = 127), recon_err is the rounded L2 error of
    dequantization (the quality metric that decides whether int8 serving
    is acceptable for a given corpus)."""
    v = F.col(vec_col).cast("array<double>")
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # all-zero vectors quantize to all-zero codes (scale pinned to 1, not 0,
    # so no NaN ever enters the code array)
    scale = F.when(absmax == 0.0, F.lit(1.0)).otherwise(absmax)
    code = F.transform(v, lambda x: F.floor(x / scale * F.lit(127.0)).cast("int"))
    deq = F.transform(F.col("_codes"), lambda c: c.cast("double") * F.col("_scale") / F.lit(127.0))
    err2 = F.aggregate(
        F.zip_with(v, deq, lambda x, d: (x - d) * (x - d)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.select(
            F.col(id_col),
            F.col(vec_col),
            scale.alias("_scale"),
            code.alias("_codes"),
        )
        .select(
            id_col,
            F.round(F.col("_scale"), 6).alias("scale"),
            F.md5(F.array_join(F.col("_codes"), ",")).alias("codes_md5"),
            F.size(F.filter(F.col("_codes"), lambda c: F.abs(c) == 127)).cast(
                "bigint"
            ).alias("n_sat"),
            F.round(F.sqrt(err2), 6).alias("recon_err"),
        )
    )


def _quantize_vec(vec_col: str, quant: int):
    return F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(quant))).cast("bigint"),
    )


def _nearest_quantized_cell(vq, cents_q: list[list[int]]):
    """Argmin-L2 cell over literal integer centroids as a map-side Column:
    integer fold distances (order-free), lexicographic struct sort breaks
    ties by cent_id. Everything integer -> bit-identical in any engine.

    The centroids ride as ONE nested array literal (not k*dim scalar
    literals): complex literals sit in the codegen references array, so
    every Lloyd iteration — whose centroid VALUES change — generates the
    identical Java source and hits the codegen cache instead of
    recompiling a k*dim-node tree per round (same finding as
    operators/pca.py)."""
    cents_lit = F.lit([[int(x) for x in c] for c in cents_q])
    structs = F.transform(
        cents_lit,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(vq, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("d"),
            i.cast("bigint").alias("cid"),
        ),
    )
    return F.array_sort(structs)[0]["cid"]


def _kmeans_q_collect(
    emb: DataFrame, quant: int, id_col: str, vec_col: str, dim: int | None
):
    """(ids, vq) for the small-corpus quantized-kmeans tier, or ``None``
    past the gates. One Arrow collect of (id, vector); quantization is
    ``np.floor(float64(v) * quant)`` — the identical correctly-rounded
    double product + exact floor the Spark ``_quantize_vec`` expression
    computes (float->double widening is exact), so ``vq`` is bit-equal.
    Bails (None) on: inestimable/large inputs, null/NaN ids, null
    vectors, NaN elements (Arrow encodes null floats as NaN — either way
    the Spark expression path's null/NaN fold semantics apply and the
    tier must not guess them), or mixed vector lengths (zip_with's null
    padding, same reason)."""
    import numpy as np

    from .util import small_corpus_pdf

    pdf = small_corpus_pdf(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        emb,
        nonnull=("id", "v"),
    )
    if pdf is None or len(pdf) == 0:
        return None
    vs = pdf["v"].to_list()
    lens = {len(v) for v in vs}
    if len(lens) != 1 or (dim is not None and lens != {int(dim)}):
        return None
    mat = np.empty((len(vs), lens.pop()), dtype=np.float64)
    for i, v in enumerate(vs):
        mat[i] = np.asarray(v, dtype=np.float64)
    if np.isnan(mat).any():
        return None
    vq = np.floor(mat * float(quant)).astype(np.int64)
    return pdf["id"], vq


def _kmeans_seed_order(ids):
    """Indices of ``ids`` in the distributed seed order: (md5 of the id's
    decimal string, id) ascending — ``orderBy(md5(cast(id as string)),
    id)`` replayed exactly (hex-digest strings compare like Spark's
    binary UTF8 ordering)."""
    import hashlib

    def key(i):
        x = ids.iloc[i]
        s = str(int(x)) if not isinstance(x, str) else x
        return (hashlib.md5(s.encode()).hexdigest(), x)

    return sorted(range(len(ids)), key=key)


def _kmeans_assign_q(vq, cents):
    """Integer argmin-L2 assignment: distances are exact int64 (no
    overflow at micro-unit magnitudes: 64 * (2 * 3e8)^2 << 2^63) and
    ``np.argmin``'s first-minimum tie-break IS the lexicographic
    (distance, cent_id) sort's head — bit-identical to
    ``_nearest_quantized_cell``."""
    import numpy as np

    d = ((vq[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return np.argmin(d, axis=1)


def kmeans_fit_quantized(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    quant: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[int]]:
    """Integer-quantized Lloyd's k-means — the HASH-CHECKABLE trained
    clustering path (``kmeans_fit``'s float averages are rows-only: their
    summation order is engine-dependent).

    Vectors quantize once to micro-units (floor(x * quant) — one
    correctly-rounded double product, identical everywhere); assignment is
    argmin of INTEGER L2 distances with cent_id tie-break; the centroid
    update is floor(sum/count) where sum is an integer (order-independent)
    and the single double division is correctly rounded — so the entire
    iteration trajectory, not just the final answer, is bit-identical
    across engines, partitionings, and shuffle orders, and a DuckDB
    recursive CTE can replay it for a full hash check.

    Same distributed shape as ``kmeans_fit``: per iteration the assignment
    is an inlined-literal map-side projection (zero shuffle, zero join of
    the corpus) and the update is one (cid, dim) groupBy — k*dim cells of
    partial-agg state, k*dim rows to the driver. Empty cells keep their
    previous centroid. Returns the k centroid lists in micro-units.
    """
    import math

    # Small-corpus tier (round 11, VERDICT r10 tasks #3/#10): the whole
    # Lloyd trajectory from ONE Arrow collect — seeds, per-iteration
    # integer argmin assignment, exact int64 cell sums and the identical
    # floor(sum/count) update, all driver-side numpy. Replaces the dim
    # probe, the seed job and iters x (interpreted HOF assignment +
    # posexplode aggregation + collect) — 5 jobs of per-round plan-build
    # and CodegenFallback evaluation at bench scale. Every quantity is
    # an exact integer (or one correctly-rounded double step replayed in
    # the same order), so the trajectory is bit-identical; any gate
    # rejection keeps the distributed shape below — the 100 TB path.
    small = _kmeans_q_collect(emb, quant, id_col, vec_col, dim)
    if small is not None:
        import numpy as np

        ids_s, vq_s = small
        order = _kmeans_seed_order(ids_s)
        cents_np = vq_s[np.asarray(order[:k], dtype=np.int64)].copy()
        for _ in range(iters):
            cid = _kmeans_assign_q(vq_s, cents_np)
            for c in range(len(cents_np)):
                sel = vq_s[cid == c]
                if len(sel):
                    s = sel.sum(axis=0, dtype=np.int64)
                    # int64 -> float64 is exact below 2^53 (micro-unit
                    # sums are far below), so s/n is the same correctly
                    # rounded double math.floor(r.s / r.n) sees
                    cents_np[c] = np.floor(s / len(sel)).astype(np.int64)
        return [[int(x) for x in c] for c in cents_np]

    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    seeds = (
        emb.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .select(_quantize_vec(vec_col, quant).alias("vq"))
        .collect()
    )
    cents = [[int(x) for x in r[0]] for r in seeds]
    base = emb.select(F.col(id_col).alias("id"), _quantize_vec(vec_col, quant).alias("vq"))
    for _ in range(iters):
        assigned = base.select(
            "vq", _nearest_quantized_cell(F.col("vq"), cents).alias("cid")
        )
        sums = (
            assigned.select("cid", F.posexplode("vq").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        nxt = [list(c) for c in cents]
        for r in sums:
            nxt[int(r["cid"])][int(r["i"])] = math.floor(r["s"] / r["n"])
        cents = nxt
    return cents


def kmeans_cells_quantized(
    emb: DataFrame,
    cents_q: list[list[int]],
    quant: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Final cell assignment against quantized centroids: (id, cell),
    map-side only. Small-corpus tier (round 11): the same one-collect
    integer argmin as the trainer tier — quantize/distance/tie-break all
    exact (see _kmeans_assign_q) — replacing the interpreted HOF
    projection; gate rejections keep the map-side expression, the
    100 TB shape."""
    small = _kmeans_q_collect(emb, quant, id_col, vec_col, None)
    if small is not None and len(cents_q):
        import numpy as np
        import pandas as pd

        ids_s, vq_s = small
        cents_np = np.asarray([[int(x) for x in c] for c in cents_q], dtype=np.int64)
        if cents_np.shape[1] == vq_s.shape[1]:
            cid = _kmeans_assign_q(vq_s, cents_np)
            id_type = emb.schema[id_col].dataType.simpleString()
            return emb.sparkSession.createDataFrame(
                pd.DataFrame({id_col: ids_s, "cell": cid.astype(np.int64)}),
                schema=f"{id_col} {id_type}, cell bigint",
            )
    return emb.select(
        F.col(id_col),
        _nearest_quantized_cell(_quantize_vec(vec_col, quant), cents_q).alias("cell"),
    )


def hard_negatives(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: for each
    query vector, the top-k most-cosine-similar vectors with a DIFFERENT
    label — maximally confusable non-positives, the negatives that carry
    gradient signal.

    Scoring is the broadcast-queries / corpus-streams shape of
    ``knn_brute_force``; ranking deliberately is NOT its per-query
    window (which ships each query's entire scored corpus into one task
    to sort) but ``grouped_topk_threshold`` — few queries x huge
    per-query candidate sets is exactly that primitive's documented
    sweet spot, keeping per-task state ~O(k) through every exchange.
    Ordering runs on integer micro-unit cosines (descending similarity
    == ascending (-cos_micro, neighbor_id), an exact lexicographic key
    both engines replay).

    Output: (query_id, neighbor_id, cos_sim, rank), rank 1-based.
    """
    from .sketch import grouped_topk_threshold

    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("qlabel"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_qn"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col(label_col).alias("clabel"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("clabel") != F.col("qlabel")),
        )
        .withColumn("cos_sim", F.round(_pair_cos(), 6))
        .withColumn(
            "neg_micro",
            -F.round(F.col("cos_sim") * F.lit(1000000.0)).cast("bigint"),
        )
        .select("query_id", "neighbor_id", "cos_sim", "neg_micro")
    )
    return (
        grouped_topk_threshold(scored, "query_id", ["neg_micro", "neighbor_id"], k)
        .select(
            "query_id", "neighbor_id", "cos_sim", F.col("rk").cast("bigint").alias("rank")
        )
    )


def rp_signs(n_proj: int, dim: int) -> list[list[int]]:
    """Deterministic +/-1 Johnson-Lindenstrauss sign matrix from md5 —
    a frozen artifact computed at plan-build time and inlined as literals
    into BOTH engines (the trained-codebook recipe: no RNG, no state)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp|{j}|{d}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for d in range(dim)
        ]
        for j in range(n_proj)
    ]


def random_projection(
    emb: DataFrame,
    n_proj: int = 8,
    dim: int = 64,
    quant: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a dense +/-1
    sign matrix (Achlioptas'01): proj_j = sum_d sign(j,d) * v_d. The
    cheap distance-preserving front-end for LSH bucketing and SimHash
    over embeddings — at 100 TB you project once and run every
    downstream ANN/near-dup pass on the 8-dim shadow.

    Exact-arithmetic discipline: components quantize to integers FIRST
    (floor at ``quant``, engine-stable), so every projection is a sum of
    bigint products — associative, order-independent, bit-identical in
    Spark and DuckDB. The whole operator is one map-side projection: no
    shuffle, no UDF, whole-stage codegen end to end.

    Output: (id, proj_id, proj_q) — n_proj rows per vector.
    """
    signs = rp_signs(n_proj, dim)
    qv = _quantize_vec(vec_col, quant)
    projs = F.array(
        *[
            F.struct(
                F.lit(j).cast("bigint").alias("proj_id"),
                F.aggregate(
                    F.zip_with(
                        qv,
                        F.array(*[F.lit(s) for s in signs[j]]),
                        lambda a, b: a * b.cast("bigint"),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ).alias("proj_q"),
            )
            for j in range(n_proj)
        ]
    )
    return emb.select(
        F.col(id_col).alias("id"), F.explode(projs).alias("_p")
    ).select("id", F.col("_p.proj_id").alias("proj_id"), F.col("_p.proj_q").alias("proj_q"))


def _label_centroids(
    emb: DataFrame,
    dim: int,
    quant: int,
    vec_col: str,
    label_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared centroid builder for the label-cohesion/-separation audits:
    (base, cent) where base = (label, _qv bigint array) map-side and cent
    = (label, n_vecs, _c) — per-dim bigint sums in ONE wide partial agg
    (dim sum columns, never a posexplode shuffle of n*dim rows), centroid
    via truncating integer division (Spark ``div`` == DuckDB ``//``
    toward zero, signed-safe). cent is bounded at k*(dim+2) integers by
    construction — always broadcastable."""
    qv = _quantize_vec(vec_col, quant)
    base = emb.select(F.col(label_col).alias("label"), qv.alias("_qv"))
    sums = base.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        *[
            F.sum(F.element_at(F.col("_qv"), i + 1)).cast("bigint").alias(f"_s{i}")
            for i in range(dim)
        ],
    )
    cent = sums.select(
        "label",
        "n_vecs",
        F.array(
            *[F.expr(f"_s{i} div n_vecs").cast("bigint") for i in range(dim)]
        ).alias("_c"),
    )
    return base, cent


def _cos_micro(dot: Column, na: Column, nb: Column) -> Column:
    """floor(1e6 * (dot / (sqrt(max(na,1)) * sqrt(max(nb,1))))) over bigint
    inputs — every op correctly-rounded IEEE, so the identical expression
    tree is bit-identical in Spark, DuckDB, and CPython."""
    return F.floor(
        F.lit(1_000_000.0)
        * (
            dot.cast("double")
            / (
                F.sqrt(F.greatest(na, F.lit(1)).cast("double"))
                * F.sqrt(F.greatest(nb, F.lit(1)).cast("double"))
            )
        )
    ).cast("bigint")


def label_centroid_dispersion(
    emb: DataFrame,
    dim: int = 64,
    quant: int = 1_000_000,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding cohesion report: the centroid of each label's
    vectors and the distribution (mean/min/max) of member-to-centroid
    cosine — the class-compactness table an embedding-quality audit
    publishes (collapsed labels show mean ~= 1; polluted labels grow a
    low min tail). The per-dimension global twin is
    ``embedding_feature_stats``; this is the grouped, vector-level view.

    Exact-arithmetic discipline (the repo's quantize-first recipe):
    components floor-quantize to integers, per-dim sums are bigint (one
    wide partial agg — dim sum columns, NOT a posexplode shuffle of
    n*dim rows), the centroid is truncating integer division (Spark
    ``div`` == DuckDB ``//`` toward zero, signed-safe), and the cosine
    is a single identically-shaped expression tree of correctly-rounded
    IEEE ops (bigint dot / sqrt*sqrt) floored at micro units — both
    engines produce the same bit pattern, so the output hash-checks.

    Physical shape: one partial-agg groupBy builds the k-row centroid
    table; it broadcasts back (bounded at k*dim integers by
    construction); the cosine is map-side; one more partial agg on the
    label key rolls up. Two exchanges total, no UDF, no explode.

    Output: (label, n_vecs, mean_cos_micro, min_cos_micro, max_cos_micro).
    """
    base, cent = _label_centroids(emb, dim, quant, vec_col, label_col)
    dotc = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_c"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    nq = F.aggregate(
        F.transform(F.col("_qv"), lambda a: a * a),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    nc = F.aggregate(
        F.transform(F.col("_c"), lambda a: a * a),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    cos_q = _cos_micro(dotc, nq, nc)
    return (
        base.join(F.broadcast(cent.drop("n_vecs")), "label")
        .select("label", cos_q.alias("_cq"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.expr("sum(_cq) div count(*)").cast("bigint").alias("mean_cos_micro"),
            F.min("_cq").cast("bigint").alias("min_cos_micro"),
            F.max("_cq").cast("bigint").alias("max_cos_micro"),
        )
    )


def label_centroid_confusion(
    emb: DataFrame,
    dim: int = 64,
    quant: int = 1_000_000,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Inter-label centroid separation: pairwise centroid-to-centroid
    cosine for every unordered label pair — the confusion side of the
    embedding-space audit (``label_centroid_dispersion`` is the cohesion
    side). Labels whose centroids sit at cosine ~1 are candidates for
    merging or relabeling; a healthy space keeps separation well below
    cohesion.

    Physical shape: the k-row integer centroid table from the shared
    builder self-joins under ``label_a < label_b`` — an inequality-only
    broadcast nested-loop over k*(dim+2) integers per side, bounded by
    the LABEL DIMENSION, never the corpus (the allow-listed tiny-BNLJ
    shape). Two exchanges total (the k-row centroid partial agg, once per
    join branch — the self-join duplicates the tiny subtree); the
    k(k-1)/2 output rows are computed map-side on the broadcast.

    Output: (label_a, label_b, n_a, n_b, cos_micro).
    """
    _, cent = _label_centroids(emb, dim, quant, vec_col, label_col)
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("n_vecs").alias("n_a"),
        F.col("_c").alias("_ca"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("n_vecs").alias("n_b"),
        F.col("_c").alias("_cb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_ca"), F.col("_cb"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    na = F.aggregate(
        F.transform(F.col("_ca"), lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    nb = F.aggregate(
        F.transform(F.col("_cb"), lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            _cos_micro(dot, na, nb).alias("cos_micro"),
        )
    )
