"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:

- **Exact**: hash-groupBy on a content fingerprint — one shuffle on the
  16-byte hash, perfectly balanced unless the corpus is one giant dup class.
- **N-gram Jaccard**: the pair search uses an INVERTED INDEX (explode
  shingles, self-join on shingle) — never an O(n^2) cross join. Skew guard:
  ultra-common shingles are capped by a document-frequency filter.
- **MinHash+LSH**: per-doc signatures are a map-side explode + min-agg;
  candidate generation joins on (band, band_signature) buckets, so the join
  fans out only within buckets. Bands/rows trade recall vs candidates:
  b=4, r=4 -> s-curve threshold (1/4)^(1/4) ~ 0.71.
- **SimHash**: 64-bit signatures from per-token md5 bits; near-dup = low
  Hamming distance. Signature build is map-side; the bit explosion is 64x
  rows but stays pre-shuffle.

Hashing is md5-based everywhere (NOT Spark's murmur3 ``hash()``) so every
stage has a bit-identical DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint, normalize_text, tokens
from .util import persist_if_small, small_corpus_pdf, spread

DEFAULT_MINHASH_K = 16
DEFAULT_BANDS = 4

# Version tag for the text -> shingle recipe (normalize_text + whitespace
# tokens + word n-grams). Bump on ANY change to that chain: it is stamped
# into saved shingle indexes and checked at probe time.
_SHINGLE_RECIPE = "norm-ws-ngram-v1"


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: per content fingerprint, the kept
    (minimum) id and the duplicate count."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def shingles(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_count: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle[, n_sh]).

    Built with transform over a token-index sequence — pure Catalyst, no
    UDF. ``with_count`` adds the doc's distinct-shingle count as a MAP-SIDE
    column (the size of the array being exploded) — consumers that need
    per-doc set sizes get them with zero shuffle, zero join, zero re-scan.

    Plan shape matters here (observed 8x at sf0.1):

    - The token split is its OWN projection below the ``spread`` exchange.
      Inlined into the transform lambda, the whole regexp+split chain
      re-evaluates per array ELEMENT (higher-order lambdas defeat
      subexpression elimination), and CollapseProject undoes a same-stage
      alias — an Exchange is the barrier it cannot cross. Bonus: the
      single-task side of an under-split scan only does the cheap
      once-per-row split; the per-element work lands post-exchange, wide.
    - ``explode_outer`` + explicit null filter instead of ``explode``:
      InferFiltersFromGenerate turns a plain explode into a
      ``size(arr)>0 AND isnotnull(arr)`` filter that Catalyst pushes below
      the exchange INTO THE SCAN — evaluating the full shingle expression
      two more times per row, serially. The outer variant infers nothing;
      the post-generate filter on the generated column is unpushable and
      drops the same rows.
    """
    out = shingle_arrays(df, n, text_col, id_col)
    cols = [F.col("id"), F.explode_outer("_grams").alias("shingle")]
    if with_count:
        # coalesce makes n_sh NON-NULLABLE (value-identical: size() is null
        # only for a null _grams, whose explode_outer row dies in the
        # shingle filter below). Round-10: a nullable n_sh lets any
        # downstream null-intolerant join/filter condition (the Jaccard
        # length filter) INFER isnotnull(n_sh), which constraint pushdown
        # rewrites through the alias into isnotnull(size(<the full
        # regex+transform shingle expression>)) and pushes INTO THE SCAN
        # STAGE — re-evaluating the whole shingle pipeline serially on the
        # pre-``spread`` single task and discarding it (measured 3.8-4.7 s
        # of 1-task stage time per join side at sf0.1, vs 0.3 s without).
        # A non-nullable column constant-folds the inferred filter away.
        cols.append(F.coalesce(F.size("_grams"), F.lit(-1)).alias("n_sh"))
    return out.select(*cols).filter(F.col("shingle").isNotNull()).drop("_grams")


def shingle_arrays(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc distinct n-gram array, un-exploded: (id, _grams). The
    map-side base both ``shingles`` (explode) and the prefix-filtered
    Jaccard path (slice-then-explode + whole-array verification) derive
    from — same spread/projection guards as ``shingles``."""
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(normalize_text(F.col(text_col))).alias("_tk"),
    )
    base = spread(base)
    tk = F.col("_tk")
    # guard: sequence(0, negative) would produce a DESCENDING range
    idx = F.when(F.size(tk) >= n, F.sequence(F.lit(0), F.size(tk) - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
    )
    return base.select("id", F.array_distinct(grams).alias("_grams"))


def jaccard_pairs(
    df: DataFrame,
    n: int = 2,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
    dense_vocab_limit: int = 1 << 16,
    dense_bytes_limit: int = 1 << 30,
    sparse_strategy: str = "postings",
    prefix_order: str = "hash",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    Adaptive physical strategy (both exact, same output):

    - **dense vocabulary** (N x V float32 incidence fits ``dense_bytes_limit``
      AND distinct shingles <= ``dense_vocab_limit``): intersections are
      chunked BLAS matmuls against a broadcast 0/1 incidence matrix. An
      inverted-index join on a dense vocab degenerates to ~all-pairs fanout
      (sum of df^2 ~ N^2 rows through a shuffle); matmul set intersection
      does the same work with zero shuffle. The gate is on ESTIMATED MATRIX
      BYTES (probed distributedly with approx_count_distinct, never by
      collecting the corpus), so the broadcast is bounded by construction.
    - **sparse vocabulary** (the realistic web-corpus case), two exact
      sub-strategies selected by ``sparse_strategy``:

      * ``"postings"`` (default): inverted-index self-join on ALL
        shingles with a length filter (J>=t implies t*|a| <= |b| <= |a|/t);
        intersections counted by a (id_a, id_b) groupBy.
        ``max_shingle_df`` drops stop-shingles to bound its skew.
      * ``"prefix"``: AllPairs-style prefix-filtered candidate generation
        (Bayardo/Ma/Srikant, WWW'07) — only each doc's
        ``|s| - ceil(t|s|) + 1`` smallest shingles under a global order
        are indexed, then surviving candidate pairs verify exactly
        on the full per-doc arrays. The quadratic posting-list explosion
        collapses with NO df cap (and no recall loss, unlike the cap).
        ``prefix_order`` picks the global order: ``"hash"`` (free,
        map-side, default) or ``"df"`` (rarest-first — the canonical
        AllPairs order whose prefix buckets stay flat on a Zipfian
        corpus, at the cost of a df join; see ``_jaccard_pairs_prefix``
        for the measured tradeoff).

      Measured on the driver corpus at sf0.1 (5K docs, mild shingle
      skew): postings ~7 s, prefix ~11 s — the verify joins cost more
      than the explosion saves, so postings is the default. On a real
      web corpus, stop-shingle df grows with corpus size while prefix
      bucket sizes stay flat: past the point where sum(df^2) dominates,
      ``"prefix"`` is the strategy that survives.

    Parameter contract: ``max_shingle_df`` redefines the per-doc shingle
    SETS (capped and uncapped outputs differ wherever a pair's overlap
    includes capped shingles) and is only honored by the ``"postings"``
    strategy — the prefix path verifies on full arrays, which cannot see
    the cap. Combining ``sparse_strategy="prefix"`` with ``max_shingle_df``
    raises rather than silently switching physical strategy.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    if sparse_strategy not in ("prefix", "postings"):
        raise ValueError(f"unknown sparse_strategy: {sparse_strategy!r}")
    if prefix_order not in ("hash", "df"):
        raise ValueError(f"unknown prefix_order: {prefix_order!r}")
    if sparse_strategy == "prefix" and max_shingle_df is not None:
        raise ValueError(
            "sparse_strategy='prefix' is incompatible with max_shingle_df: "
            "the prefix path verifies on full shingle arrays and would not "
            "honor the df cap; use sparse_strategy='postings' with the cap, "
            "or drop the cap (the prefix filter needs none)"
        )
    sh = shingles(df, n, text_col, id_col, with_count=True)
    if max_shingle_df is not None:
        # the frequent-shingle filter changes per-doc set sizes, so the
        # map-side n_sh is recomputed post-filter (groupBy + broadcast join)
        rare = sh.groupBy("shingle").count().filter(F.col("count") <= max_shingle_df)
        sh = sh.drop("n_sh").join(rare.select("shingle"), "shingle")
        sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
        # no broadcast hint: the per-doc size table scales with the corpus,
        # so let AQE pick broadcast-vs-shuffle from runtime stats
        sh = sh.join(sizes, "id")
    # Strategy gates — skipped entirely when the caller pins the sparse
    # path (a limit of 0 can never admit dense): the gate's corpus pass
    # shouldn't run when its answer is predetermined.
    if dense_vocab_limit > 0 and dense_bytes_limit > 0:
        id_type = df.schema[id_col].dataType.simpleString()
        tier, pdf, codes = _self_join_tier(
            sh, df, dense_vocab_limit, dense_bytes_limit
        )
        if tier == "pdf":
            return _jaccard_pairs_dense_pdf(
                df.sparkSession, pdf, codes, threshold, id_type
            )
        if tier == "dense":
            return _jaccard_pairs_dense(sh.drop("n_sh"), threshold, id_type)
    if sparse_strategy == "prefix":
        return _jaccard_pairs_prefix(
            shingle_arrays(df, n, text_col, id_col), threshold, order=prefix_order
        )
    return _jaccard_pairs_inverted(sh, threshold)


def _self_join_tier(
    sh: DataFrame, gate_df: DataFrame, dense_vocab_limit: int, dense_bytes_limit: int
):
    """The dense-vs-sparse decision of the exact shingle self-joins
    (``jaccard_pairs``, ``containment_pairs``), as ``(tier, pdf, codes)``:

    - ``"pdf"``: ``gate_df`` admits the small-corpus gate and the cost
      gate passed on EXACT counts from ONE Arrow collect of the
      (id, shingle) rows. ``pdf`` is that frame, id-sorted, and ``codes``
      its factorized vocabulary: the driver dense build needs zero further
      jobs (the collect replaces the HLL probe job plus the distributed
      build's vocabulary shuffle, broadcast join and collect_list
      pipeline — 3-5 jobs per query build).
    - ``"dense"``: past the input gate (or on null ids), a distributed
      HLL probe (one map-side-partial agg job, ~1.05x-accurate) passed;
      the corpus is never collected.
    - ``"sparse"``: a gate rejected, or the collected corpus is empty.

    Feasibility: the vocabulary fits ``dense_vocab_limit`` and the
    nd x v incidence matrix fits ``dense_bytes_limit``. Cost (round-8,
    measured on 1x/4x/8x cipher replications of the sf0.1 corpus — see
    SCALE.md's scale-exponent probe): dense's unavoidable work is the
    nd^2 intersection-count scan of the matmul output; postings' is the
    sum(df^2) bucket fanout through a shuffle. Measured per-unit costs are
    comparable (~0.1 us/cell vs /row on local[32]), so the counts compare
    with a 2x margin to dense (it also saves a shuffle): 5k docs 3.7 s
    dense vs 6.0 s postings; 20k docs 28.7 vs 44.7; 40k docs 159 vs 40 —
    the margin classifies all three points correctly, while the bytes
    limit alone kept admitting dense at 40k docs. sum(df^2) >= p^2/v
    (Cauchy-Schwarz), so when nd^2 clears that uniform lower bound the
    exact sum is never computed; only an inconclusive bound pays the
    df^2 aggregation (a bincount away on the collected frame)."""
    import numpy as np
    import pandas as pd

    pdf = small_corpus_pdf(sh.select("id", "shingle"), gate_df, nonnull=("id",))
    if pdf is not None:
        if not len(pdf):
            return "sparse", None, None
        pdf = pdf.sort_values("id", kind="mergesort", ignore_index=True)
        codes, uniq = pd.factorize(pdf["shingle"])
        nd, v, p = int(pdf["id"].nunique()), len(uniq), len(pdf)

        def sum_df2() -> float:
            dfreq = np.bincount(codes).astype(np.float64)
            return float((dfreq * dfreq).sum())

    else:
        codes = None
        probe = sh.agg(
            F.approx_count_distinct("shingle").alias("v"),
            F.approx_count_distinct("id").alias("nd"),
            F.count("*").alias("p"),
        ).first()
        nd, v, p = int(probe["nd"]), int(probe["v"]), int(probe["p"])

        def sum_df2() -> float:
            # double-typed sum: a web-scale stop-shingle df can put
            # sum(df^2) past int64; the gate needs magnitude, not
            # exactness
            return float(
                sh.groupBy("shingle")
                .agg(F.count("*").alias("d"))
                .agg(F.sum(F.col("d").cast("double") * F.col("d")))
                .first()[0]
                or 0.0
            )

    if v > dense_vocab_limit or nd * v * 4 > dense_bytes_limit:
        return "sparse", None, None
    if nd * nd * v > 2 * p * p and nd * nd > 2 * sum_df2():
        return "sparse", None, None
    return ("pdf" if pdf is not None else "dense"), pdf, codes


def jaccard_pairs_between(
    new: DataFrame,
    corpus: DataFrame,
    n: int = 2,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    dense_vocab_limit: int = 1 << 16,
    dense_bytes_limit: int = 1 << 30,
) -> DataFrame:
    """Incremental (cross-corpus) exact Jaccard: for each NEW document,
    its near-duplicates among an EXISTING corpus — the ingestion-time
    dedup a continuously-fed training pipeline runs on every batch, so
    the quadratic self-join over the full historical corpus never
    happens again.

    Adaptive physical strategy (round-10, both exact, same output — the
    same two-tier gate as the self-join ``jaccard_pairs``):

    - **dense vocabulary** (the corpus's distinct-shingle count fits
      ``dense_vocab_limit`` AND both incidence matrices fit
      ``dense_bytes_limit``, probed distributedly — never by collecting
      the corpus): intersections are chunked BLAS matmuls of the new
      batch's 0/1 incidence against the corpus's, broadcast in compact
      CSR form. On a dense vocab the inverted join degenerates to
      ~sum(df_new x df_old) fanout through a shuffle; the matmul does
      the same work with zero shuffle.
    - **sparse vocabulary** (the realistic web-corpus case, and the only
      shape at 100 TB): inverted-index join between the two shingle
      relations (the new batch's posting lists probe the corpus's),
      size-compatibility filter, one (new_id, old_id) groupBy for
      intersections. The corpus shingle table shuffles by shingle once
      and can be written bucketed-by-shingle so subsequent batches join
      with ZERO corpus-side shuffle (see tests/test_plans.py
      bucketed-join pin; ``jaccard_pairs_against_index`` is always this
      shape — an index table exists precisely to serve the sparse join).

    ``dense_vocab_limit=0`` (or bytes 0) pins the sparse path and skips
    the probe — what ``bench.py``'s sort-merge probe entries do so they
    keep timing the at-scale shape.

    Output: (new_id, old_id, jaccard) with jaccard >= threshold. A new
    doc with no qualifying match is absent — left-anti against this
    result is the "keep" list.
    """
    sh_new = shingles(new, n, text_col, id_col, with_count=True)
    sh_old = shingles(corpus, n, text_col, id_col, with_count=True)
    if dense_vocab_limit > 0 and dense_bytes_limit > 0:
        t_new = new.schema[id_col].dataType.simpleString()
        t_old = corpus.schema[id_col].dataType.simpleString()
        # Small-corpus fast tier (round-10, the between analog of
        # jaccard_pairs'): when BOTH inputs admit the gate, TWO Arrow
        # collects replace the two HLL probes + the dense build's four
        # distributed consumers (vocab, df join, two groupBy/collect
        # pipelines); the gates evaluate on EXACT counts, and an admitted
        # dense path costs zero further jobs before the candidate map.
        # Past the gate the distributed probe below decides — a
        # corpus-sized side is never collected.
        old_pdf = small_corpus_pdf(sh_old.select("id", "shingle"), corpus, new)
        if old_pdf is not None:
            import numpy as np
            import pandas as pd

            new_pdf = small_corpus_pdf(
                sh_new.select("id", "shingle", "n_sh"), corpus, new
            )
            if (len(old_pdf) and old_pdf["id"].isna().any()) or (
                len(new_pdf) and new_pdf["id"].isna().any()
            ):
                # null ids split CSR rows (NaN != NaN) where the
                # distributed groupBy merges them — sparse fallthrough,
                # same as a gate reject (round-10 ADVICE)
                return _jaccard_between_shingles(sh_new, sh_old, threshold)
            if len(old_pdf) and len(new_pdf):
                old_pdf = old_pdf.sort_values(
                    "id", kind="mergesort", ignore_index=True
                )
                new_pdf = new_pdf.sort_values(
                    "id", kind="mergesort", ignore_index=True
                )
                codes_old, uniq = pd.factorize(old_pdf["shingle"])
                uniq = pd.Index(uniq)
                v = len(uniq)
                nd_old = int(old_pdf["id"].nunique())
                nd_new = int(new_pdf["id"].nunique())
                if (
                    v <= dense_vocab_limit
                    and (nd_old + nd_new) * v * 4 <= dense_bytes_limit
                ):
                    # vocabulary comes from the corpus side only: a
                    # new-side shingle absent from it can never intersect
                    new_codes = uniq.get_indexer(new_pdf["shingle"])
                    df_old = np.bincount(codes_old, minlength=v).astype(
                        np.float64
                    )
                    df_new = np.bincount(
                        new_codes[new_codes >= 0], minlength=v
                    ).astype(np.float64)
                    # exact cost gate: dense scans nd_new*nd_old cells;
                    # the inverted join fans out sum(df_new*df_old) rows
                    # through a shuffle — same 2x dense margin
                    if nd_new * nd_old <= 2.0 * float((df_new * df_old).sum()):
                        return _jaccard_between_dense_pdf(
                            new.sparkSession,
                            new_pdf,
                            new_codes,
                            old_pdf,
                            codes_old,
                            v,
                            threshold,
                            t_new,
                            t_old,
                        )
            # exact gates rejected (or an empty side): sparse fallthrough
            return _jaccard_between_shingles(sh_new, sh_old, threshold)
        # Big-input window: distributed HLL probes decide (one map-side
        # partial agg job per side; the corpus is never collected).
        po = sh_old.agg(
            F.approx_count_distinct("shingle").alias("v"),
            F.approx_count_distinct("id").alias("nd"),
            F.count("*").alias("p"),
        ).first()
        v, nd_old, p_old = int(po["v"]), int(po["nd"]), int(po["p"])
        if v <= dense_vocab_limit:
            pn = sh_new.agg(
                F.approx_count_distinct("id").alias("nd"),
                F.count("*").alias("p"),
            ).first()
            nd_new, p_new = int(pn["nd"]), int(pn["p"])
            est_bytes = (nd_old + nd_new) * v * 4
            if est_bytes <= dense_bytes_limit:
                # cost gate, the between analog of jaccard_pairs':
                # dense scans nd_new*nd_old cells; the inverted join
                # fans out sum(df_new*df_old) rows through a shuffle.
                # Uniform lower bound sum >= p_new*p_old/v decides
                # cheaply; only an inconclusive bound pays the exact
                # df-join aggregation (both df tables are vocab-sized
                # here by the feasibility gate).
                if nd_new * nd_old * v <= 2 * p_new * p_old:
                    dense_ok = True
                else:
                    dfn = sh_new.groupBy("shingle").agg(
                        F.count("*").cast("double").alias("da")
                    )
                    dfo = sh_old.groupBy("shingle").agg(
                        F.count("*").cast("double").alias("db")
                    )
                    s = (
                        dfn.join(dfo, "shingle")
                        .agg(F.sum(F.col("da") * F.col("db")))
                        .first()[0]
                        or 0.0
                    )
                    dense_ok = nd_new * nd_old <= 2 * float(s)
                if dense_ok:
                    return _jaccard_between_dense(
                        sh_new, sh_old, threshold, t_new, t_old
                    )
    return _jaccard_between_shingles(sh_new, sh_old, threshold)


def _jaccard_between_dense(
    sh_new: DataFrame, sh_old: DataFrame, threshold: float, t_new: str, t_old: str
) -> DataFrame:
    """BLAS exact cross-corpus Jaccard for byte-gated corpora, distributed
    front-end — the between twin of ``_jaccard_pairs_dense`` (same CSR
    broadcast, same float32 multiply-compare pre-filter, same exact
    round()-based Spark filter downstream; the shared map is
    ``_dense_between_map``). Differences: the vocabulary comes from the
    CORPUS side only (a new-batch shingle absent from the corpus can never
    intersect, but still counts in the new doc's set size — ``na`` is
    therefore the map-side ``n_sh``, not the vocab-hit count), and there
    is no id_a < id_b triangle: every (new, old) cell is a candidate."""
    import numpy as np

    spark = sh_new.sparkSession
    vocab = (
        sh_old.select("shingle")
        .distinct()
        .select(
            "shingle",
            (F.row_number().over(Window.orderBy("shingle")) - 1).alias("v"),
        )
    )
    old_pdf = (
        sh_old.join(F.broadcast(vocab), "shingle")
        .groupBy("id")
        .agg(F.collect_list("v").alias("vs"), F.count("*").alias("nv"))
        .toPandas()
    )
    new_pdf = (
        sh_new.join(F.broadcast(vocab), "shingle")
        .groupBy("id")
        .agg(F.collect_list("v").alias("vs"), F.max("n_sh").alias("nv"))
        .toPandas()
    )
    if len(old_pdf) == 0 or len(new_pdf) == 0:
        return spark.createDataFrame(
            [], f"new_id {t_new}, old_id {t_old}, jaccard double"
        )

    def csr(pdf):
        lens = np.fromiter((len(x) for x in pdf["vs"]), dtype=np.int64)
        indptr = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=indptr[1:])
        cols = (
            np.concatenate([np.asarray(x, dtype=np.int32) for x in pdf["vs"]])
            if indptr[-1]
            else np.empty(0, dtype=np.int32)
        )
        return pdf["id"].to_numpy(), indptr, cols, pdf["nv"].to_numpy(dtype=np.int64)

    o_ids, o_indptr, o_cols, o_sz = csr(old_pdf)
    n_ids, n_indptr, n_cols, n_sz = csr(new_pdf)
    n_vocab = 1 + max(
        int(o_cols.max()) if len(o_cols) else 0,
        int(n_cols.max()) if len(n_cols) else 0,
    )
    return _dense_between_map(
        spark,
        (o_ids, o_indptr, o_cols, o_sz),
        (n_ids, n_indptr, n_cols, n_sz),
        n_vocab,
        threshold,
        t_new,
        t_old,
    )


def _jaccard_between_dense_pdf(
    spark,
    new_pdf,
    new_codes,
    old_pdf,
    codes_old,
    n_vocab: int,
    threshold: float,
    t_new: str,
    t_old: str,
) -> DataFrame:
    """Between dense path, small-corpus front-end: CSR for both sides
    straight from the gate's ALREADY-COLLECTED id-sorted frames — zero
    Spark jobs between the gate and the candidate map. The corpus side
    defines the vocabulary (``codes_old`` from its factorize); new-side
    rows whose shingle is absent (``new_codes`` == -1) can never
    intersect and are dropped, but still count in ``na`` via the
    map-side ``n_sh``, and a new doc losing ALL its rows has no
    candidates — the inner-join semantics of the distributed
    front-end."""
    import numpy as np

    o_ids, _, o_indptr, o_cols = _csr_from_id_sorted(old_pdf, codes_old)
    o_sz = np.diff(o_indptr)
    hit = new_codes >= 0
    kept_ids = new_pdf["id"].to_numpy()[hit]
    if len(kept_ids) == 0 or len(o_ids) == 0:
        return spark.createDataFrame(
            [], f"new_id {t_new}, old_id {t_old}, jaccard double"
        )
    kept_codes = np.asarray(new_codes, dtype=np.int64)[hit].astype(np.int32)
    kept_nsh = new_pdf["n_sh"].to_numpy(dtype=np.int64)[hit]
    change = np.flatnonzero(kept_ids[1:] != kept_ids[:-1]) + 1
    starts = np.concatenate(([0], change)).astype(np.int64)
    ends = np.concatenate((change, [len(kept_ids)])).astype(np.int64)
    n_ids = kept_ids[starts]
    n_indptr = np.concatenate(([0], ends)).astype(np.int64)
    n_sz = kept_nsh[starts]
    return _dense_between_map(
        spark,
        (o_ids, o_indptr, o_cols, o_sz),
        (n_ids, n_indptr, kept_codes, n_sz),
        n_vocab,
        threshold,
        t_new,
        t_old,
    )


def _dense_between_map(
    spark,
    old_arrays,
    new_arrays,
    n_vocab: int,
    threshold: float,
    t_new: str,
    t_old: str,
) -> DataFrame:
    """The broadcast-CSR chunked-matmul candidate map shared by the two
    between front-ends (see ``_dense_self_candidates`` for the CSR
    broadcast and float32 numeric-soundness arguments; no triangle here —
    every (new, old) cell is a candidate)."""
    import numpy as np
    import pandas as pd

    o_ids, o_indptr, o_cols, o_sz = old_arrays
    n_ids, n_indptr, n_cols, n_sz = new_arrays
    from .session_cache import register_session_broadcast

    bc = register_session_broadcast(
        spark.sparkContext.broadcast(
            (o_ids, o_indptr, o_cols, o_sz, n_ids, n_indptr, n_cols, n_sz, n_vocab)
        )
    )
    n_cpus = spark.sparkContext.defaultParallelism
    n_new, n_old = len(n_ids), len(o_ids)
    chunk = max(1, (1 << 25) // max(n_old, 1))
    pre_margin = np.float32(threshold - 2e-6)
    inter_schema = (
        f"new_id {t_new}, old_id {t_old}, n_inter bigint, na bigint, nb bigint"
    )

    def block(batches):
        o_ids, o_indptr, o_cols, o_sz, n_ids, n_indptr, n_cols, n_sz, nv = bc.value

        def densify(ids, indptr, cols):
            m = np.zeros((len(ids), nv), dtype=np.float32)
            m[np.repeat(np.arange(len(ids)), np.diff(indptr)), cols] = 1.0
            return m

        old_m = densify(o_ids, o_indptr, o_cols)
        new_m = densify(n_ids, n_indptr, n_cols)
        o_szf = o_sz.astype(np.float32)
        n_szf = n_sz.astype(np.float32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = pdf["i"].to_numpy()
            for s in range(0, len(rows), chunk):
                idx = rows[s : s + chunk]
                inter = new_m[idx] @ old_m.T
                union = (n_szf[idx][:, None] + o_szf[None, :]) - inter
                mask = (inter >= pre_margin * union) & (inter > np.float32(0.5))
                ai, bj = np.nonzero(mask)
                if len(ai):
                    yield pd.DataFrame(
                        {
                            "new_id": n_ids[idx[ai]],
                            "old_id": o_ids[bj],
                            "n_inter": inter[ai, bj].astype(np.int64),
                            "na": n_sz[idx[ai]],
                            "nb": o_sz[bj],
                        }
                    )

    idx_df = spark.range(n_new).select(F.col("id").cast("int").alias("i"))
    cand = idx_df.repartition(n_cpus).mapInPandas(block, inter_schema)
    j = F.round(
        F.col("n_inter")
        / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        6,
    )
    return cand.select("new_id", "old_id", j.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def save_shingle_index(
    corpus: DataFrame,
    table: str,
    n: int = 2,
    buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the corpus's shingle posting table BUCKETED BY shingle —
    the amortization step for continuous ingestion: every later
    ``jaccard_pairs_against_index`` probe sort-merges against bucket-aligned
    splits with ZERO corpus-side shuffle (pinned in tests/test_plans.py),
    so per-batch cost scales with the batch, not with history. Size
    ``buckets`` so each bucket file lands near the object-store sweet spot
    at the target corpus size.

    The shingle parameters (``n``, the normalize/tokenize recipe version)
    are recorded as table properties and re-checked by every
    ``jaccard_pairs_against_index`` probe — an n-gram or normalization
    mismatch between index build and probe would otherwise silently yield
    empty joins instead of an error."""
    sh = shingles(corpus, n, text_col, id_col, with_count=True)
    (
        sh.write.mode("overwrite")
        .bucketBy(buckets, "shingle")
        .sortBy("shingle")
        .saveAsTable(table)
    )
    corpus.sparkSession.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ("
        f"'lesw.shingle_n' = '{int(n)}', "
        f"'lesw.shingle_recipe' = '{_SHINGLE_RECIPE}')"
    )


def jaccard_pairs_against_index(
    new: DataFrame,
    index_table: str,
    n: int = 2,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``jaccard_pairs_between`` with the corpus side served from a
    ``save_shingle_index`` bucketed table instead of re-shingling raw
    documents.

    Fails loudly if the table's recorded shingle parameters (n, recipe
    version) disagree with this probe's — a mismatch would produce
    near-empty results that look like "no duplicates". Tables written
    before the properties existed (no ``lesw.shingle_n`` key) skip the
    check for compatibility."""
    spark = new.sparkSession
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {index_table}").collect()
    }
    stored_n = props.get("lesw.shingle_n")
    stored_recipe = props.get("lesw.shingle_recipe")
    if stored_n is not None and (
        int(stored_n) != int(n) or stored_recipe != _SHINGLE_RECIPE
    ):
        raise ValueError(
            f"shingle-index mismatch for table {index_table!r}: index was "
            f"built with n={stored_n}, recipe={stored_recipe!r}; probe uses "
            f"n={n}, recipe={_SHINGLE_RECIPE!r}. Rebuild the index with "
            "save_shingle_index or match the probe parameters."
        )
    sh_old = spark.table(index_table)
    sh_new = shingles(new, n, text_col, id_col, with_count=True)
    return _jaccard_between_shingles(sh_new, sh_old, threshold)


def _jaccard_between_shingles(
    sh_new: DataFrame, sh_old: DataFrame, threshold: float
) -> DataFrame:
    t = threshold - 1e-6
    joined = sh_new.alias("a").join(
        sh_old.alias("b"), F.col("a.shingle") == F.col("b.shingle")
    )
    inter = (
        joined.filter(
            (F.col("b.n_sh") >= t * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= t * F.col("b.n_sh"))
        )
        .groupBy(
            F.col("a.id").alias("new_id"),
            F.col("b.id").alias("old_id"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    j = inter.select(
        "new_id",
        "old_id",
        F.round(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
            6,
        ).alias("jaccard"),
    )
    return j.filter(F.col("jaccard") >= threshold)


def _jaccard_pairs_inverted(sh: DataFrame, threshold: float) -> DataFrame:
    """Inverted-index exact Jaccard: bucket-local pairs per shingle +
    length filter.

    ``sh`` carries (id, shingle, n_sh). Pairs explode INSIDE each shingle's
    posting list (one groupBy shuffle; the shingle pipeline runs once, not
    once per join side), the size-compatibility filter (J>=t implies
    t*|a| <= |b| <= |a|/t, with 1e-6 slack so pairs that round up to the
    threshold at 6 decimals are never pruned) drops incompatible pairs
    before the intersection count, and one aggregation counts shared
    shingles per surviving pair. ``max_shingle_df`` upstream is the skew
    guard: it bounds the posting-list length, which bounds both the member
    array and the quadratic pair fanout.
    """
    t = threshold - 1e-6
    pairs = _bucket_local_pairs(sh, ["shingle"], ["n_sh"])
    inter = (
        pairs.filter(
            (F.col("b.n_sh") >= t * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= t * F.col("b.n_sh"))
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    j = inter.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
            6,
        ).alias("jaccard"),
    )
    return j.filter(F.col("jaccard") >= threshold)


def _jaccard_pairs_prefix(
    arrays: DataFrame, threshold: float, order: str = "hash"
) -> DataFrame:
    """Prefix-filtered exact Jaccard (AllPairs family, Bayardo et al.
    WWW'07 "Scaling Up All Pairs Similarity Search").

    Completeness lemma: order the shingle universe by ANY global total
    order. If |a ∩ b| >= alpha, then the first ``|a| - alpha + 1`` elements
    of a and the first ``|b| - alpha + 1`` of b share an element (take u =
    last prefix element of the earlier-ending prefix: a common element
    <= u would be in both prefixes, and there are at most alpha-1 common
    elements > u). For J >= t with the size filter |b| >= t|a|, alpha >=
    ceil(t|a|), so indexing each doc's first ``|s| - ceil(t|s|) + 1``
    shingles can never miss a qualifying pair.

    Two global orders (``order``), trading one shuffle for bucket shape:

    - ``"hash"`` (default): xxhash64(shingle) — the prefix is a MAP-SIDE
      ``array_sort + slice`` on the per-doc gram array, zero extra cost.
      BUT a stop-shingle still lands in a doc's prefix with probability
      ~(1-t) (the prefix is the first 1-t fraction of a uniformly-hashed
      order), so its bucket keeps ~(1-t)·df members — the sum(df^2)
      blowup survives with a (1-t)^2 constant, which a growing corpus
      eventually overwhelms.
    - ``"df"``: rarest-first (corpus document frequency ASC, shingle) —
      the canonical AllPairs order (Bayardo §3.1, Chaudhuri et al.). Hot
      shingles sort LAST and are (almost) never indexed: prefix bucket
      sizes are bounded by rare-shingle df and stay flat as the corpus
      grows. Costs one df aggregation + one shingle-keyed join + a
      per-doc re-collect (three extra exchanges over doc/shingle-scoped
      keys — the price of the at-scale shape). Measured forced-sparse at
      sf0.1 (synthetic ~900-shingle corpus, mild skew), two draws each:
      hash 8.7-9.9 s, df 9.6-9.7 s — a wash at this scale (the extra
      exchanges roughly cancel the shrunken buckets), so the free hash
      order stays the default; on a Zipfian web corpus, where stop-
      shingle df grows with the corpus while rare-shingle df does not,
      rarest-first is the shape that survives — same reasoning as the
      tf-cosine twin, which defaults to it.

    Candidates then explode only inside prefix-shingle buckets (vs ALL
    shingle buckets on the postings path), and each surviving distinct
    candidate verifies EXACTLY via array_intersect on the full gram
    arrays, re-derived map-side on the probe side of the joins.

    Shuffles beyond the map work (hash order): bucket groupBy, candidate
    distinct, and the two id-keyed verify joins (AQE-planned); none moves
    the corpus text, only ids + gram arrays of candidate docs.
    """
    t = threshold - 1e-6
    n_sh = F.size("_grams")
    plen = (n_sh - F.ceil(F.lit(t) * n_sh) + 1).cast("int")
    if order == "hash":
        hashed = F.array_sort(
            F.transform("_grams", lambda g: F.struct(F.xxhash64(g).alias("h"), g.alias("g")))
        )
        pre_src = arrays.select(
            "id",
            n_sh.alias("n_sh"),
            F.transform(F.slice(hashed, F.lit(1), plen), lambda s: s["g"]).alias("_pre"),
        )
    elif order == "df":
        ex = arrays.select(
            "id", n_sh.alias("n_sh"), F.explode_outer("_grams").alias("shingle")
        ).filter(F.col("shingle").isNotNull())
        dfreq = ex.groupBy("shingle").agg(F.count("*").alias("_dfreq"))
        by_rarity = (
            ex.join(dfreq, "shingle")
            .groupBy("id", "n_sh")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("_dfreq").alias("d"), F.col("shingle").alias("g"))
                    )
                ).alias("_sorted")
            )
        )
        # plen re-derived from n_sh (grams are distinct per doc, so
        # size(_sorted) == n_sh and the map-side formula carries over)
        plen_s = (
            F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1
        ).cast("int")
        pre_src = by_rarity.select(
            "id",
            "n_sh",
            F.transform(
                F.slice("_sorted", F.lit(1), plen_s), lambda s: s["g"]
            ).alias("_pre"),
        )
    else:
        raise ValueError(f"unknown prefix order: {order!r}")
    pre = pre_src.select("id", "n_sh", F.explode_outer("_pre").alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )
    cands = (
        _bucket_local_pairs(pre, ["shingle"], ["n_sh"])
        .filter(
            (F.col("b.n_sh") >= t * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= t * F.col("b.n_sh"))
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .distinct()
    )
    sa = arrays.select(F.col("id").alias("_ia"), F.col("_grams").alias("_sa"))
    sb = arrays.select(F.col("id").alias("_ib"), F.col("_grams").alias("_sb"))
    verified = (
        cands.join(sa, cands["id_a"] == sa["_ia"])
        .join(sb, cands["id_b"] == sb["_ib"])
        .select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.size(F.array_intersect("_sa", "_sb")).alias("n_inter"),
        )
    )
    j = verified.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
            6,
        ).alias("jaccard"),
    )
    return j.filter(F.col("jaccard") >= threshold)


def _csr_from_id_sorted(pdf, codes):
    """CSR arrays from an id-SORTED collected shingle frame: contiguous
    equal-id runs are the matrix rows, ``codes`` (vocabulary indices in row
    order, factorized on the driver) the column entries. Returns
    (ids, sizes, indptr, cols)."""
    import numpy as np

    ids_arr = pdf["id"].to_numpy()
    change = np.flatnonzero(ids_arr[1:] != ids_arr[:-1]) + 1
    starts = np.concatenate(([0], change)).astype(np.int64)
    ends = np.concatenate((change, [len(ids_arr)])).astype(np.int64)
    indptr = np.concatenate(([0], ends)).astype(np.int64)
    return (
        ids_arr[starts],
        ends - starts,
        indptr,
        np.asarray(codes, dtype=np.int32),
    )


def _dense_self_arrays_distributed(sh: DataFrame):
    """(ids, sizes, indptr, cols, n_vocab) for the self-join dense paths
    via the DISTRIBUTED vocabulary join + groupBy collect — the
    big-but-dense window's front-end. Vocabulary indices are assigned
    distributedly (distinct shingles + row_number — at most
    ``dense_vocab_limit`` rows through the tiny sort); only the COMPACT
    per-doc int32 index lists come to the driver via ONE Arrow
    ``toPandas``, bounded above by the byte gate that admitted the dense
    path. Returns ``None`` for an empty relation."""
    import numpy as np

    sh = sh.cache()
    try:
        vocab = (
            sh.select("shingle")
            .distinct()
            .select(
                "shingle",
                (F.row_number().over(Window.orderBy("shingle")) - 1).alias("v"),
            )
        )
        doc_pdf = (
            sh.join(F.broadcast(vocab), "shingle")
            .groupBy("id")
            .agg(F.collect_list("v").alias("vs"), F.count("*").alias("nv"))
            .toPandas()
        )
    finally:
        sh.unpersist()
    if len(doc_pdf) == 0:
        return None
    doc_pdf = doc_pdf.sort_values("id", kind="mergesort", ignore_index=True)
    ids_all = doc_pdf["id"].to_numpy()  # dtype inferred; object ok for strings
    sizes_all = doc_pdf["nv"].to_numpy(dtype=np.int64)
    lens = np.fromiter((len(v) for v in doc_pdf["vs"]), dtype=np.int64)
    indptr = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=indptr[1:])
    cols = (
        np.concatenate([np.asarray(v, dtype=np.int32) for v in doc_pdf["vs"]])
        if indptr[-1]
        else np.empty(0, dtype=np.int32)
    )
    n_vocab = int(cols.max()) + 1 if len(cols) else 1
    return ids_all, sizes_all, indptr, cols, n_vocab


def _dense_self_candidates(
    spark,
    ids_all,
    sizes_all,
    indptr,
    cols,
    n_vocab,
    threshold: float,
    id_type: str,
    containment: bool = False,
) -> DataFrame:
    """The broadcast-CSR chunked-matmul candidate map shared by the Jaccard
    and containment dense paths, over pre-built driver-side CSR arrays
    (rows MUST be id-sorted: the id_a < id_b triangle is an index compare,
    so ids keep their source type — int, string, ...).

    What broadcasts is the CSR form of the incidence (indptr + int32
    column indices, ~p*4 bytes), NOT the N x V float32 matrix (the dense
    matrix pickle was ~10-20x the CSR bytes and dominated driver
    construction); each task scatter-builds the dense 0/1 matrix once — a
    single vectorized assignment, amortized over its whole chunk loop —
    and computes its rows' intersection counts in CHUNKED matmuls (0/1
    entries make ``A @ ref.T`` the exact set-intersection count; float32
    sums of ones are exact below 2^24). One distributed map, no shuffle.

    Rounding parity (round 6): Jaccard/containment values are RATIONAL, so
    exact decimal ties are reachable (1/128 = 0.0078125 -> np.round
    half-even gives ...812, Spark/DuckDB HALF_UP give ...813). The block
    therefore emits only exact integers (n_inter, na, nb); the one inexact
    step — round(ratio, 6) — runs in the SAME Spark expression as the
    sparse paths, so all strategies and the oracle agree on ties by
    construction.

    The in-block pre-filter is FLOAT32 END TO END (round-10): an
    elementwise f64 division + i64 cast + full triangle mask over the
    N*chunk intermediates cost ~10x the sgemm itself on the bench hosts.
    ``inter >= pre * bound`` in f32 replaces the division: inter and bound
    are exact integers below 2^24 in f32, so the only inexact step is the
    f32 rounding of pre*bound (relative ~1.2e-7). The pre-margin sits TWO
    rounding-grid steps (2e-6) below the threshold — strictly looser than
    the old 1e-6 margin plus the f32 worst-case error — so a pair that
    rounds UP to the threshold at 6 decimals is never dropped early; the
    exact round()-based filter downstream discards the few extras.
    ``inter > 0.5`` is the integer-valued-f32 form of inter > 0.

    ``containment=False`` bounds with the union (symmetric Jaccard);
    ``containment=True`` bounds with min(na, nb) — the direction with the
    smaller denominator has the larger containment, so a pair failing
    that bound fails BOTH directions and completeness is preserved."""
    import numpy as np
    import pandas as pd

    n_docs = len(ids_all)
    from .session_cache import register_session_broadcast

    bc = register_session_broadcast(
        spark.sparkContext.broadcast((ids_all, indptr, cols, sizes_all, n_vocab))
    )
    n_cpus = spark.sparkContext.defaultParallelism
    # chunk so each task's chunk x N intermediates stay ~<=256 MB
    chunk = max(1, (1 << 25) // max(n_docs, 1))
    pre_margin = np.float32(threshold - 2e-6)
    inter_schema = (
        f"id_a {id_type}, id_b {id_type}, n_inter bigint, na bigint, nb bigint"
    )
    is_containment = bool(containment)

    def block(batches):
        ref_ids, r_indptr, r_cols, ref_sz, r_vocab = bc.value
        # dense 0/1 incidence rebuilt ONCE per task from the CSR
        # broadcast: one vectorized scatter over the nnz entries
        ref = np.zeros((len(ref_ids), r_vocab), dtype=np.float32)
        ref[np.repeat(np.arange(len(ref_ids)), np.diff(r_indptr)), r_cols] = 1.0
        ref_szf = ref_sz.astype(np.float32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = pdf["i"].to_numpy(dtype=np.int64)
            for s in range(0, len(rows), chunk):
                idx = rows[s : s + chunk]
                inter = ref[idx] @ ref.T
                if is_containment:
                    bound = np.minimum(ref_szf[idx][:, None], ref_szf[None, :])
                else:
                    bound = (ref_szf[idx][:, None] + ref_szf[None, :]) - inter
                mask = (inter >= pre_margin * bound) & (inter > np.float32(0.5))
                ai, bj = np.nonzero(mask)
                if len(ai):
                    # rows are id-sorted: index order IS id order
                    keep = bj > idx[ai]
                    ai, bj = ai[keep], bj[keep]
                if len(ai):
                    yield pd.DataFrame(
                        {
                            "id_a": ref_ids[idx[ai]],
                            "id_b": ref_ids[bj],
                            "n_inter": inter[ai, bj].astype(np.int64),
                            "na": ref_sz[idx[ai]],
                            "nb": ref_sz[bj],
                        }
                    )

    idx_df = spark.range(n_docs).select(F.col("id").cast("int").alias("i"))
    return idx_df.repartition(n_cpus).mapInPandas(block, inter_schema)


def _jaccard_dense_tail(cand: DataFrame, threshold: float) -> DataFrame:
    """The exact round()-based Jaccard filter every strategy shares — ties
    resolve identically across dense/postings/prefix and the oracle."""
    j = F.round(
        F.col("n_inter")
        / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        6,
    )
    return cand.select("id_a", "id_b", j.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _jaccard_pairs_dense(sh: DataFrame, threshold: float, id_type: str) -> DataFrame:
    """BLAS exact Jaccard for byte-gated corpora, distributed front-end:
    the big-but-dense window where the (id, shingle) rows are NOT provably
    small enough to collect raw, so the vocabulary is indexed distributedly
    and only compact int32 lists reach the driver. The candidate map and
    numeric-soundness argument live in ``_dense_self_candidates``."""
    spark = sh.sparkSession
    arrays = _dense_self_arrays_distributed(sh)
    if arrays is None:
        return spark.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, jaccard double"
        )
    cand = _dense_self_candidates(spark, *arrays, threshold, id_type)
    return _jaccard_dense_tail(cand, threshold)


def _jaccard_pairs_dense_pdf(
    spark, pdf, codes, threshold: float, id_type: str
) -> DataFrame:
    """BLAS exact Jaccard, small-corpus front-end: CSR straight from the
    gate's ALREADY-COLLECTED id-sorted shingle frame and its factorize
    codes — zero Spark jobs between the gate and the candidate map."""
    ids_all, sizes_all, indptr, cols = _csr_from_id_sorted(pdf, codes)
    n_vocab = int(cols.max()) + 1 if len(cols) else 1
    cand = _dense_self_candidates(
        spark, ids_all, sizes_all, indptr, cols, n_vocab, threshold, id_type
    )
    return _jaccard_dense_tail(cand, threshold)


def _containment_dense_cand(sh: DataFrame, threshold: float, id_type: str) -> DataFrame:
    """Unordered candidate pairs (id_a, id_b, n_inter, na, nb) for the
    containment dense path, distributed front-end — the
    ``_dense_self_candidates`` machinery with the asymmetric
    ``min(na, nb)`` pre-filter; the few extra candidates the loose f32
    margin admits die in the exact ``_containment_directed`` filter
    downstream. ``na``/``nb`` are full set sizes (the vocabulary is the
    corpus's own shingle space, so vocab-hit counts ARE the set sizes)."""
    spark = sh.sparkSession
    arrays = _dense_self_arrays_distributed(sh)
    if arrays is None:
        return spark.createDataFrame(
            [],
            f"id_a {id_type}, id_b {id_type}, n_inter bigint, na bigint, nb bigint",
        )
    return _dense_self_candidates(
        spark, *arrays, threshold, id_type, containment=True
    )


def _containment_dense_cand_pdf(
    spark, pdf, codes, threshold: float, id_type: str
) -> DataFrame:
    """Containment dense candidates, small-corpus front-end (see
    ``_jaccard_pairs_dense_pdf``)."""
    ids_all, sizes_all, indptr, cols = _csr_from_id_sorted(pdf, codes)
    n_vocab = int(cols.max()) + 1 if len(cols) else 1
    return _dense_self_candidates(
        spark,
        ids_all,
        sizes_all,
        indptr,
        cols,
        n_vocab,
        threshold,
        id_type,
        containment=True,
    )


def minhash_signature_arrays(
    df: DataFrame,
    k: int = DEFAULT_MINHASH_K,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures as one row per doc: (id, sig array<string>[k]).

    hash_i(shingle) = md5(i || '|' || shingle); the per-seed minimum is taken
    LEXICOGRAPHICALLY on the hex digest — identical in any engine, no
    integer conversion needed. ONE wide aggregation: k min-columns with
    map-side partial aggregation, so exactly one shuffle of one row per
    (partition, id) — not k exploded rows per shingle — carries the corpus.
    """
    return _minhash_from_shingles(shingles(df, n, text_col, id_col), k)


def _minhash_from_shingles(sh: DataFrame, k: int) -> DataFrame:
    """The signature aggregation over an already-built shingle relation —
    split out so consumers that hold a (possibly cached) shingle table
    (``dedup_cost_census``) reuse it instead of re-running the shingle
    pipeline."""
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"_m{i}")
        for i in range(k)
    ]
    return sh.groupBy("id").agg(*mins).select(
        "id", F.array(*[F.col(f"_m{i}") for i in range(k)]).alias("sig")
    )


def minhash_signatures(
    df: DataFrame,
    k: int = DEFAULT_MINHASH_K,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Long-form MinHash rows (id, seed, minhash) — a projection off the
    wide form."""
    return minhash_signature_arrays(df, k, n, text_col, id_col).select(
        "id", F.posexplode("sig").alias("seed", "minhash")
    )


def _band_sig_structs(
    k: int, bands: int, extra: list[Column] | None = None
) -> list[Column]:
    """The banding construction shared by ``lsh_bands`` and
    ``lsh_band_sweep`` — ONE source of truth for the width formula and
    the band_sig hash (md5 of the band's r minhashes joined in seed
    order), so a banding change can never silently diverge the sweep
    from the standalone path it is tested equal to. When bands does not
    divide k, the final band absorbs the k % bands remainder seeds so
    every seed contributes to exactly one band. ``extra`` prepends
    constant fields (e.g. a config tag) to each struct."""
    r = k // bands
    widths = [r] * (bands - 1) + [k - (bands - 1) * r]
    return [
        F.struct(
            *(extra or []),
            F.lit(b).cast("int").alias("band"),
            F.md5(F.array_join(F.slice("sig", b * r + 1, w), ",")).alias(
                "band_sig"
            ),
        )
        for b, w in enumerate(widths)
    ]


def lsh_bands(
    sigs_wide: DataFrame,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Band buckets from wide signatures: (id, [keep...,] band, band_sig).

    band_sig = md5 of the band's r minhashes joined in seed order — a pure
    per-row projection (explode of `bands` structs via
    ``_band_sig_structs``), no shuffle. ``keep`` carries extra columns
    (e.g. the signature itself) through the explosion so downstream
    consumers never re-join the signature table.
    """
    bucket = F.explode(F.array(*_band_sig_structs(k, bands)))
    kept = [F.col(c) for c in keep]
    return sigs_wide.select("id", *kept, bucket.alias("bb")).select(
        "id", *kept, "bb.band", "bb.band_sig"
    )


def _bucket_local_pairs(
    df: DataFrame, keys: list[str], payload: list[str], chunk: int = 128
) -> DataFrame:
    """Unordered id-pairs within each bucket, payload columns carried along.

    ONE shuffle (groupBy the bucket key) replaces a bucket self-JOIN — which
    would shuffle the bucket table twice AND recompute its (expensive)
    upstream once per side, since exchange reuse is not guaranteed across
    join branches. Members sort by id so emitted pairs satisfy a.id < b.id
    by construction.

    Skew + AQE blind spot, both handled by CHUNKED two-level explosion:

    - A degenerate bucket (thousands of near-identical docs) would build
      its whole L^2/2 pair array in ONE row evaluated by ONE task
      (observed: a 1639-member simhash bucket = 1.34M pairs = 28% of all
      pair work serialized on one core). Members are therefore split into
      ``chunk``-sized slices; (chunk_i x chunk_j) combos explode FIRST
      (O(L/c) rows per bucket, each carrying <= 2c members), re-spread
      round-robin, and only then expand to member pairs — per-row arrays
      are bounded by c^2 and a hot bucket parallelizes cluster-wide. The
      interleaving exchange moves O(L^2/c) member copies — 1/c of the pair
      rows it spreads, strictly cheaper than shuffling pairs.
    - The grouped-members table is SMALL IN BYTES (one row per bucket), so
      AQE's bytes-based coalescing would squeeze the post-agg exchange
      into a handful of partitions; AQE cannot foresee explosion output
      (observed 25 s -> 7 s at sf0.1 from re-spreading alone). Width
      follows ``spark.sql.shuffle.partitions`` (the operator's scale
      knob) so a cluster-sized session spreads cluster-wide.
    - `chunks` materializes as its own projection directly under the
      first Generate and the combo rows cross an Exchange before the
      second — otherwise Catalyst would inline the array expressions into
      the lambdas and re-evaluate them per element (see ``shingles``).
    - ``explode_outer`` + null filter instead of ``explode``: blocks
      InferFiltersFromGenerate from pushing two extra evaluations of the
      (expensive) generator expression below the exchange.

    Output columns: a STRUCT<id, payload...>, b STRUCT<id, payload...>.
    """
    member = F.struct(F.col("id"), *[F.col(c) for c in payload])
    grouped = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.array_sort(F.collect_list(member)).alias("members")
    )
    c = int(chunk)
    chunked = grouped.select(
        F.expr(
            f"transform(sequence(0, int((size(members) - 1) / {c})), "
            f"k -> slice(members, k * {c} + 1, {c}))"
        ).alias("chunks")
    )
    combos = (
        chunked.select(
            F.explode_outer(
                F.expr(
                    "flatten(transform(chunks, (ca, i) -> "
                    "transform(slice(chunks, i + 1, size(chunks)), "
                    "(cb, j) -> struct(ca AS ca, cb AS cb, (j = 0) AS same))))"
                )
            ).alias("cp")
        )
        .filter(F.col("cp").isNotNull())
        .select("cp.ca", "cp.cb", "cp.same")
    )
    spark = df.sparkSession
    width = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism * 4,
    )
    combos = combos.repartition(width)
    # same-chunk: upper triangle; cross-chunk: full ca x cb (global id sort
    # across chunk boundaries already guarantees a.id < b.id)
    pair = F.explode_outer(
        F.expr(
            "CASE WHEN same THEN flatten(transform(ca, (x, i) -> "
            "transform(slice(ca, i + 2, size(ca)), y -> struct(x AS a, y AS b)))) "
            "ELSE flatten(transform(ca, x -> "
            "transform(cb, y -> struct(x AS a, y AS b)))) END"
        )
    )
    return (
        combos.select(pair.alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.a", "p.b")
    )


def _lsh_sig_rows_small(
    df: DataFrame,
    k: int,
    n: int,
    text_col: str,
    id_col: str,
    max_docs: int = 200_000,
    vocab_cap: int = 1 << 16,
):
    """(ids, sig_rows) for the small-corpus LSH tier, or ``None`` past the
    gates. For an input whose Catalyst estimate admits the
    ``lesw.smallCorpusCacheBytes`` gate, ONE Arrow collect of the
    (id, shingle) relation feeds a DRIVER-side MinHash build: the k md5
    digests are computed once per DISTINCT shingle (v*k hashes instead of
    the aggregation's p*k — document frequency collapses for free), the
    per-seed lexicographic minima come from rank arrays +
    ``np.minimum.reduceat`` over the id-sorted CSR, and the hex VALUES are
    read back off the sorted digests, so every signature string is
    byte-identical to ``minhash_signature_arrays``'s. Past ``vocab_cap``
    (bounds the Python md5 loop) the signature aggregation stays
    distributed — its map-side-partial shuffle is the at-scale shape —
    and only the k-per-doc digests cross via one Arrow collect. Docs with
    zero shingles produce no CSR row and no signature, exactly like the
    distributed groupBy."""
    import hashlib

    import numpy as np
    import pandas as pd

    sh = shingles(df, n, text_col, id_col)
    pdf = small_corpus_pdf(sh.select("id", "shingle"), df, nonnull=("id",))
    if pdf is None:
        return None
    if len(pdf) == 0:
        return np.empty(0, object), []
    pdf = pdf.sort_values("id", kind="mergesort", ignore_index=True)
    codes, uniq = pd.factorize(pdf["shingle"])
    ids_all, _sizes, indptr, cols = _csr_from_id_sorted(pdf, codes)
    nd = len(ids_all)
    if nd > max_docs:
        return None
    if len(uniq) <= vocab_cap:
        sig_cols = _sig_cols_from_csr(uniq, indptr, cols, k)
        sig_rows = [[str(c[i]) for c in sig_cols] for i in range(nd)]
        return ids_all, sig_rows
    spdf = _minhash_from_shingles(sh, k).toPandas()
    if len(spdf) > max_docs:
        return None
    spdf = spdf.sort_values("id", kind="mergesort", ignore_index=True)
    return spdf["id"].to_numpy(), spdf["sig"].to_list()


def _sig_cols_from_csr(uniq, indptr, cols, k: int):
    """Per-seed MinHash columns over an id-sorted CSR: k arrays of hex
    digests (one per doc), byte-identical to ``minhash_signature_arrays``'s
    aggregation — md5 once per DISTINCT shingle per seed, per-doc minima
    via rank arrays + ``np.minimum.reduceat``. The ONE definition of the
    driver-side signature build, shared by ``_lsh_sig_rows_small`` and
    ``_cost_census_pdf``."""
    import hashlib

    import numpy as np

    sig_cols = []
    for j in range(k):
        hexes = np.array(
            [hashlib.md5(f"{j}|{s}".encode()).hexdigest() for s in uniq]
        )
        o = np.argsort(hexes, kind="mergesort")
        rank = np.empty(len(hexes), np.int64)
        rank[o] = np.arange(len(hexes))
        minr = np.minimum.reduceat(rank[cols], indptr[:-1])
        sig_cols.append(hexes[o][minr])
    return sig_cols


def _cost_census_pdf(
    df: DataFrame,
    threshold: float,
    k: int,
    bands: int,
    n: int,
    text_col: str,
    id_col: str,
    max_docs: int = 200_000,
    vocab_cap: int = 1 << 16,
):
    """Small-corpus tier of ``dedup_cost_census`` (round 11, VERDICT r10
    task #9): the census is pure integer arithmetic over the collected
    (id, shingle) relation, three rows out — so for a gate-admitted input
    ONE Arrow collect replaces three shingle-table aggregations, the
    ranked-prefix join + two windows and the signature aggregation
    (~10 jobs of fixed cost at bench scale). Exactness per strategy:

    - postings: df per shingle is ``bincount`` over the factorized
      shingle codes; sum(df) and sum(df*(df-1) DIV 2) are exact int64.
    - prefix_df: the (df asc, shingle asc) rank within each doc replays
      the distributed window's total order (pandas string sort is code
      point order == Spark's binary UTF8 order), and the prefix length
      ``n_sh - ceil(t*n_sh) + 1`` replays the identical double
      multiply/ceil.
    - lsh: the SAME ``_sig_cols_from_csr`` signature build as the LSH
      candidate tier (byte-identical to the distributed aggregation) and
      the same md5 band keys, so bucket sizes agree even under hash
      collisions.

    ``None`` past any gate (input estimate, null ids, doc count, vocab
    cap) keeps the distributed census — the 100 TB shape — unchanged."""
    import hashlib

    import numpy as np
    import pandas as pd

    sh = shingles(df, n, text_col, id_col)
    pdf = small_corpus_pdf(sh.select("id", "shingle"), df, nonnull=("id",))
    if pdf is None or len(pdf) == 0:
        return None
    pdf = pdf.sort_values("id", kind="mergesort", ignore_index=True)
    codes, uniq = pd.factorize(pdf["shingle"])
    ids_all, _sizes, indptr, cols = _csr_from_id_sorted(pdf, codes)
    if len(ids_all) > max_docs or len(uniq) > vocab_cap:
        return None
    t = threshold - 1e-6
    dfreq = np.bincount(codes, minlength=len(uniq)).astype(np.int64)
    post_idx = int(dfreq.sum())
    post_pairs = int((dfreq * (dfreq - 1) // 2).sum())
    # prefix census: rank entries within each doc by (df asc, shingle asc)
    ent = pd.DataFrame(
        {"id": pdf["id"], "df": dfreq[codes], "sh": pdf["shingle"], "code": codes}
    ).sort_values(["id", "df", "sh"], kind="mergesort", ignore_index=True)
    idv = ent["id"].to_numpy()
    starts = np.flatnonzero(np.r_[True, idv[1:] != idv[:-1]])
    gsize = np.diff(np.r_[starts, len(idv)])
    rk = np.arange(len(idv)) - np.repeat(starts, gsize) + 1
    n_sh = np.repeat(gsize, gsize).astype(np.int64)
    plen = (n_sh - np.ceil(t * n_sh) + 1).astype(np.int64)
    pdfr = np.bincount(
        ent["code"].to_numpy()[rk <= plen], minlength=len(uniq)
    ).astype(np.int64)
    pre_idx = int(pdfr.sum())
    pre_pairs = int((pdfr * (pdfr - 1) // 2).sum())
    # lsh census: same band widths + md5 band keys as _lsh_pairs_pdf
    sig_cols = _sig_cols_from_csr(uniq, indptr, cols, k)
    r = k // bands
    widths = [r] * (bands - 1) + [k - (bands - 1) * r]
    lsh_idx = 0
    lsh_pairs = 0
    for bi, w in enumerate(widths):
        lo = bi * r
        keys = pd.array(
            [
                hashlib.md5(",".join(row).encode()).hexdigest()
                for row in zip(*(sig_cols[j] for j in range(lo, lo + w)))
            ]
        )
        m = np.bincount(pd.factorize(keys)[0]).astype(np.int64)
        lsh_idx += int(m.sum())
        lsh_pairs += int((m * (m - 1) // 2).sum())
    return df.sparkSession.createDataFrame(
        [
            ("postings", post_idx, post_pairs),
            ("prefix_df", pre_idx, pre_pairs),
            (f"lsh_{k}x{bands}", lsh_idx, lsh_pairs),
        ],
        "strategy string, index_rows bigint, candidate_pairs bigint",
    )


def _lsh_pairs_pdf(
    ids,
    sig_rows,
    k: int,
    band_counts: tuple[int, ...],
    max_pairs: int = 1 << 24,
):
    """Small-corpus LSH candidate tier: banding, bucket grouping, in-bucket
    pair explosion and the cross-band distinct as driver-side numpy over
    collected signatures — the small-corpus collect design applied to
    the LSH stage (guide §1.2/§5: for a provably-small corpus the
    distributed shape's band explosion, bucket shuffle, chunked pair
    explosion, width-`shuffle.partitions` re-spread and distinct shuffle
    are 5 jobs of pure fixed cost).

    Returns ``{n_bands: (a_idx, b_idx)}`` over id-SORTED doc indices (so
    ``a < b`` index-wise IS ``id_a < id_b``), or ``None`` when a config's
    pre-distinct bucket pair volume exceeds ``max_pairs`` (a degenerate
    all-dups corpus must keep the chunked distributed explosion). Bucket
    keys are the SAME md5 band signatures as the distributed path and the
    oracle, so even hash-collision merges agree by construction."""
    import hashlib

    import numpy as np
    import pandas as pd

    nd = len(ids)
    if nd == 0:
        empty = np.empty(0, np.int64)
        return {b: (empty, empty) for b in band_counts}
    out: dict[int, tuple] = {}
    for b in band_counts:
        r = k // b
        widths = [r] * (b - 1) + [k - (b - 1) * r]
        # pass 1: bucket structure + exact pre-distinct pair volume
        band_groups = []
        total_pairs = 0
        for bi, w in enumerate(widths):
            lo = bi * r
            keys = pd.array(
                [
                    hashlib.md5(",".join(s[lo : lo + w]).encode()).hexdigest()
                    for s in sig_rows
                ]
            )
            codes = pd.factorize(keys)[0]
            order = np.argsort(codes, kind="stable")
            sc = codes[order]
            starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
            sizes = np.diff(np.r_[starts, nd])
            total_pairs += int((sizes * (sizes - 1) // 2).sum())
            band_groups.append((order, starts, sizes))
        if total_pairs > max_pairs:
            return None
        # pass 2: in-bucket pairs, vectorized per bucket-size class
        pa, pb = [], []
        for order, starts, sizes in band_groups:
            big = sizes >= 2
            for m in np.unique(sizes[big]):
                sel = starts[(sizes == m)]
                members = order[sel[:, None] + np.arange(int(m))[None, :]]
                # stable argsort preserved id order inside each bucket,
                # so sorting each row makes a < b index-wise
                members = np.sort(members, axis=1)
                iu, ju = np.triu_indices(int(m), 1)
                pa.append(members[:, iu].ravel())
                pb.append(members[:, ju].ravel())
        if pa:
            a = np.concatenate(pa).astype(np.int64)
            bq = np.concatenate(pb).astype(np.int64)
            key = np.unique(a * np.int64(nd) + bq)  # cross-band distinct
            a, bq = key // nd, key % nd
        else:
            a = bq = np.empty(0, np.int64)
        out[b] = (a, bq)
    return out


def _lsh_est_counts(sig_rows, a, b, k: int):
    """Per-pair equal-seed counts over collected signatures: per-seed
    ``pd.factorize`` ranks (equal rank <=> equal minhash hex), compared in
    bounded chunks so the gather never materializes pairs x k x 8 bytes."""
    import numpy as np
    import pandas as pd

    nd = len(sig_rows)
    ranks = np.empty((nd, k), dtype=np.int32)
    for j in range(k):
        ranks[:, j] = pd.factorize(pd.array([s[j] for s in sig_rows]))[0]
    n_eq = np.empty(len(a), np.int64)
    step = 1 << 20
    for s in range(0, len(a), step):
        sl = slice(s, s + step)
        n_eq[sl] = (ranks[a[sl]] == ranks[b[sl]]).sum(axis=1)
    return n_eq


def lsh_candidate_pairs(
    df: DataFrame,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH candidate pairs (id_a < id_b) + estimated Jaccard.

    Pairs collide iff they share any (band, band_sig) bucket; the estimate
    is the fraction of equal minhash seeds. Bucket-LOCAL pair generation
    keeps the explosion inside buckets — the scale path for corpus-level
    dedup. Whole pipeline computes signatures exactly once: one aggregation
    shuffle builds them, banding is a projection carrying the signature
    along, one bucket shuffle groups members, pairs + estimates explode
    in-bucket, and a final distinct dedupes multi-band collisions. No
    joins, no cache, no recomputation of the signature aggregation.
    """
    # Small-corpus tier (round-10): for a provably-small input the whole
    # signature + banding + bucket-grouping + pair-explosion + distinct
    # pipeline runs as driver numpy over ONE Arrow collect of the shingle
    # relation; n_eq crosses back as an exact integer and the estimate is
    # computed by the SAME Spark round() expression as below, so ties and
    # values are identical by construction. Past any gate (input estimate,
    # doc count, vocab, pair volume) the distributed bucket-local shape
    # below is unchanged — the 100 TB path.
    id_type = df.schema[id_col].dataType.simpleString()
    small = _lsh_sig_rows_small(df, k, n, text_col, id_col)
    if small is not None:
        ids, sig_rows = small
        by_cfg = _lsh_pairs_pdf(ids, sig_rows, k, (bands,))
        if by_cfg is not None:
            import numpy as np
            import pandas as pd

            a, b = by_cfg[bands]
            n_eq = (
                _lsh_est_counts(sig_rows, a, b, k)
                if len(a)
                else np.empty(0, "int64")
            )
            cand = df.sparkSession.createDataFrame(
                pd.DataFrame({"id_a": ids[a], "id_b": ids[b], "n_eq": n_eq}),
                schema=f"id_a {id_type}, id_b {id_type}, n_eq bigint",
            )
            return cand.select(
                "id_a",
                "id_b",
                F.round(F.col("n_eq") / F.lit(float(k)), 6).alias("est_jaccard"),
            )
    sigs = minhash_signature_arrays(df, k, n, text_col, id_col)
    bnd = lsh_bands(sigs, k, bands, keep=("sig",))
    pairs = _bucket_local_pairs(bnd, ["band", "band_sig"], ["sig"])
    # the estimate rides ALONG with the pair explosion — signatures were
    # carried into the bucket rows, so no re-join against the (expensively
    # aggregated) signature table, and the whole pipeline computes
    # signatures exactly once: agg shuffle -> band projection -> ONE bucket
    # shuffle -> in-bucket pair explode -> distinct. (Round-10 negative
    # result, kept so it is not retried: carrying unhex(sig) as a binary
    # payload and unrolling the equal-seed count into k static comparisons
    # measured ~10% SLOWER than this zip_with form in a 5-draw interleaved
    # A/B at both b=4 and b=8 — the pair stage's executor time is the
    # explosion machinery, not the estimate expression.)
    est_col = (
        F.aggregate(
            F.zip_with("a.sig", "b.sig", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(k))
    )
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(est_col, 6).alias("est_jaccard"),
        )
        .distinct()
    )


def dedup_cost_census(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pre-run cost census of the three sparse pair-search strategies:
    (strategy, index_rows, candidate_pairs) — the numbers a planner reads
    BEFORE launching a corpus-scale dedup, because candidate_pairs IS the
    shuffle volume each strategy will generate:

    - ``postings``: full inverted index. index_rows = sum(df);
      candidate_pairs = sum over shingles of df*(df-1)/2 — the sum(df^2)
      blowup this repo's strategy docstrings argue from, now measurable
      per corpus instead of asserted.
    - ``prefix_df``: AllPairs prefix filter under the rarest-first
      (df asc, shingle asc) order — the canonical Bayardo order and the
      one census that is ENGINE-EXACT (the default xxhash64 order is not
      reproducible outside Spark; a uniform hash order has the same
      EXPECTED bucket profile, so this census also estimates it).
      index_rows = sum of per-doc prefix lengths |s| - ceil(t|s|) + 1;
      candidate_pairs = the pre-verify bucket pair volume.
    - ``lsh_{k}x{bands}``: MinHash banding. index_rows = docs x bands;
      candidate_pairs = sum over band buckets of m*(m-1)/2 (before the
      cross-band distinct).

    All counts are exact integers from df/bucket-size aggregations — the
    corpus text never moves, and no strategy's actual pair explosion
    runs. Three shingle-table aggregations + one signature pass.
    """
    # Small-corpus tier (round 11): the whole census from ONE Arrow
    # collect — see _cost_census_pdf for the per-strategy exactness
    # argument. Any gate rejection keeps the distributed shape below.
    small = _cost_census_pdf(df, threshold, k, bands, n, text_col, id_col)
    if small is not None:
        return small
    t = threshold - 1e-6
    sh = shingles(df, n, text_col, id_col)
    # Small-corpus persist (round-10): this census consumes the shingle
    # relation FOUR ways (df table, the ranked prefix join's two sides,
    # and the MinHash signature aggregation) — uncached, the regex-heavy
    # shingle pipeline evaluates once per consumer.
    sh = persist_if_small(sh, df)
    half = lambda c: F.expr(f"CAST({c} * ({c} - 1) DIV 2 AS BIGINT)")  # noqa: E731
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    postings = dfreq.agg(
        F.lit("postings").alias("strategy"),
        F.sum("df").cast("bigint").alias("index_rows"),
        F.sum(half("df")).cast("bigint").alias("candidate_pairs"),
    )
    w_id = Window.partitionBy("id")
    w_rk = Window.partitionBy("id").orderBy("df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("n_sh", F.count("*").over(w_id))
        .withColumn("rk", F.row_number().over(w_rk))
    )
    plen = (
        F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + F.lit(1)
    ).cast("bigint")
    pdfr = (
        ranked.filter(F.col("rk") <= plen)
        .groupBy("shingle")
        .agg(F.count("*").alias("pdf"))
    )
    prefix = pdfr.agg(
        F.lit("prefix_df").alias("strategy"),
        F.sum("pdf").cast("bigint").alias("index_rows"),
        F.sum(half("pdf")).cast("bigint").alias("candidate_pairs"),
    )
    sigs = _minhash_from_shingles(sh, k)
    bsz = _band_bucket_sizes(sigs, k, bands)
    lsh = bsz.agg(
        F.lit(f"lsh_{k}x{bands}").alias("strategy"),
        F.sum("m").cast("bigint").alias("index_rows"),
        F.sum(half("m")).cast("bigint").alias("candidate_pairs"),
    )
    return postings.unionAll(prefix).unionAll(lsh)


def _band_bucket_sizes(sigs: DataFrame, k: int, bands: int) -> DataFrame:
    """(band, band_sig, m): member count per LSH bucket — the ONE
    definition of the banding bucket-size census, shared by
    ``dedup_cost_census`` and ``lsh_bucket_histogram`` (the same
    single-source rule as ``_band_sig_structs``: a banding change must
    never let the two consumers drift apart)."""
    return (
        lsh_bands(sigs, k, bands)
        .groupBy("band", "band_sig")
        .agg(F.count("*").alias("m"))
    )


def lsh_bucket_histogram(
    df: DataFrame,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bucket-size histogram of the MinHash banding: (bucket_size,
    n_buckets) — the skew census for the LSH candidate stage. The pair
    explosion's cost is sum over buckets of m*(m-1)/2, so ONE degenerate
    bucket (a boilerplate-heavy corpus hashing thousands of docs to the
    same band signature) dominates the whole stage; this table shows the
    tail BEFORE the explosion runs, the same way ``join_key_profile``
    shows join-key skew. Physical shape: the signature aggregation, the
    banding projection, one bucket count (map-side partial), and a
    size-keyed recount — bounded output (distinct sizes), corpus never
    re-shuffled. Driver-registered round 7 (queries_pipeline.py
    ``lsh_bucket_histogram``; oracle = the _MINHASH_SIGS bands CTE with
    two stacked GROUP BYs)."""
    sigs = minhash_signature_arrays(df, k, n, text_col, id_col)
    bucket_sizes = _band_bucket_sizes(sigs, k, bands)
    return (
        bucket_sizes.groupBy(F.col("m").cast("bigint").alias("bucket_size"))
        .agg(F.count("*").cast("bigint").alias("n_buckets"))
    )


def lsh_band_sweep(
    df: DataFrame,
    band_counts: tuple[int, ...] = (2, 4, 8),
    k: int = DEFAULT_MINHASH_K,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs for SEVERAL (bands x rows) configurations from ONE
    signature pass: (n_bands, id_a, id_b), id_a < id_b per config.

    The banding-parameter sweep a dedup team runs once before freezing
    (b, r) for a corpus — each config trades recall against candidate
    volume along the S-curve P(collide) = 1 - (1 - j^r)^b. Running
    ``lsh_candidate_pairs`` per config would recompute the MinHash
    aggregation (the expensive corpus scan + shuffle) once per config,
    because Spark does not share unmaterialized subtrees across DataFrame
    branches. Here all configs' band structs explode out of ONE
    projection over ONE signature aggregation — sum(b_i) small band rows
    per doc instead of another corpus scan each — and a single
    bucket-local pair explosion (grouped once on n_bands+band+band_sig,
    so buckets of different configs never mix) carries the config tag
    through as member payload. Scale shape is lsh_candidate_pairs'
    exactly: one agg shuffle, one bucket shuffle, in-bucket chunked pair
    explosion, distinct.
    """
    # Every config must divide k: _band_sig_structs gives the LAST band
    # the k % b remainder seeds (widths 5,5,6 for k=16,b=3) while the
    # DuckDB oracle's seed // (k // b) banding would form an extra
    # 1-seed band — a silent Spark/oracle hash divergence. Fail loudly
    # instead of letting a future band_counts change drift.
    bad = [b for b in band_counts if b <= 0 or k % b != 0]
    if bad:
        raise ValueError(
            f"band_counts {bad} do not divide k={k}; the sweep's oracle "
            f"assumes uniform band widths (k % b == 0, b > 0)"
        )
    # Small-corpus tier (round-10): same driver-numpy signature+candidate
    # build as ``lsh_candidate_pairs``, all configs from the one collected
    # shingle relation; any gate rejection keeps the distributed
    # one-projection explosion below.
    id_type = df.schema[id_col].dataType.simpleString()
    small = _lsh_sig_rows_small(df, k, n, text_col, id_col)
    if small is not None:
        ids, sig_rows = small
        by_cfg = _lsh_pairs_pdf(ids, sig_rows, k, tuple(band_counts))
        if by_cfg is not None:
            import numpy as np
            import pandas as pd

            frames = []
            for cfg in band_counts:
                a, b = by_cfg[cfg]
                frames.append(
                    pd.DataFrame(
                        {
                            "n_bands": np.full(len(a), cfg, dtype=np.int32),
                            "id_a": ids[a],
                            "id_b": ids[b],
                        }
                    )
                )
            return df.sparkSession.createDataFrame(
                pd.concat(frames, ignore_index=True),
                schema=f"n_bands int, id_a {id_type}, id_b {id_type}",
            )
    sigs = minhash_signature_arrays(df, k, n, text_col, id_col)
    structs = [
        s
        for b in band_counts
        for s in _band_sig_structs(
            k, b, extra=[F.lit(b).cast("int").alias("n_bands")]
        )
    ]
    bnd = sigs.select("id", F.explode(F.array(*structs)).alias("bb")).select(
        "id", "bb.n_bands", "bb.band", "bb.band_sig"
    )
    pairs = _bucket_local_pairs(
        bnd, ["n_bands", "band", "band_sig"], ["n_bands"]
    )
    return pairs.select(
        F.col("a.n_bands").alias("n_bands"),
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
    ).distinct()


_HEX = "0123456789abcdef"


def hamming_hex_sql(a: str, b: str, n_hex: int = 16, xor_fn: str = "spark") -> str:
    """Hamming distance between two n_hex-char hex strings as a statically
    unrolled SQL expression — dialect-portable. The Spark variant converts
    4-hex-char words through ``conv`` (2 string ops per word pair instead
    of 8 per-nibble instr probes — the verification is the per-candidate
    hot path); the DuckDB variant keeps the per-nibble XOR popcount
    (DuckDB has no conv). Identical values."""
    terms = []
    if xor_fn == "spark":
        for i in range(0, n_hex - n_hex % 4, 4):
            wa = f"CAST(conv(substr({a}, {i + 1}, 4), 16, 10) AS BIGINT)"
            wb = f"CAST(conv(substr({b}, {i + 1}, 4), 16, 10) AS BIGINT)"
            terms.append(f"bit_count({wa} ^ {wb})")
        for i in range(n_hex - n_hex % 4 + 1, n_hex + 1):
            va = f"(instr('{_HEX}', substr({a}, {i}, 1)) - 1)"
            vb = f"(instr('{_HEX}', substr({b}, {i}, 1)) - 1)"
            terms.append(f"bit_count({va} ^ {vb})")
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"
    for i in range(1, n_hex + 1):
        va = f"(instr('{_HEX}', substr({a}, {i}, 1)) - 1)"
        vb = f"(instr('{_HEX}', substr({b}, {i}, 1)) - 1)"
        terms.append(f"bit_count(xor({va}, {vb}))")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-duplicate pairs: Hamming(sig_a, sig_b) <= max_hamming.

    Pigeonhole banding: a 64-bit signature splits into ``bands`` equal hex
    bands; any pair within ``bands - 1`` bit flips shares at least one
    band verbatim, so candidates form inside (band index, band value)
    buckets — bucket-local fanout, no all-pairs scan — and the result is
    EXACT for ``max_hamming <= bands - 1``. Pair generation is bucket-LOCAL
    (one groupBy shuffle; the signature pipeline runs once, not once per
    join side). Hamming verification is a codegen'd nibble-XOR-popcount
    expression.
    """
    if max_hamming > bands - 1:
        raise ValueError("banding is only exact for max_hamming <= bands - 1")
    # (Round-10 negative result, kept so it is not retried: a driver pair
    # tier — collect the distributed signatures, band/bucket/XOR-popcount
    # in numpy, createDataFrame the surviving pairs — measured med 3.6 ->
    # 5.0 s in a 5-draw interleaved A/B at sf0.1. Unlike the LSH
    # candidates, this operator's OUTPUT is large (~166K pairs at sf0.1),
    # so the local-relation round-trip out of the driver costs more than
    # the bucket machinery it removed; the filter-before-distinct shape
    # below is already lean.)
    sigs = simhash64(df, text_col, id_col)
    band_len = 16 // bands
    banded = sigs.withColumn(
        "band", F.explode(F.array(*[F.lit(i) for i in range(bands)]))
    ).withColumn(
        "band_val", F.expr(f"substr(simhash, band * {band_len} + 1, {band_len})")
    )
    # Hamming-verify BEFORE the cross-band distinct (round-10): hamming is
    # a function of the pair, so filter-then-distinct is row-identical to
    # distinct-then-filter — but the distinct's shuffle now carries only
    # the few surviving (id_a, id_b, hamming) rows instead of every
    # multi-bucket candidate occurrence with two 16-char signatures (a
    # degenerate bucket alone contributed 1.34M candidate rows at sf0.1).
    # The verify expression evaluates once per candidate occurrence
    # (<= bands copies) instead of once per distinct pair; it is a cheap
    # codegen'd XOR-popcount, the shuffle rows were the cost.
    ham = F.expr(hamming_hex_sql("a.simhash", "b.simhash"))
    return (
        _bucket_local_pairs(banded, ["band", "band_val"], ["simhash"])
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document as a 16-hex-char string: (id, simhash).

    bit_j(token) = bit (j%4) of md5-hex nibble (j/4); the signature bit is 1
    iff the sum of (2*bit-1) over DISTINCT tokens is > 0. md5-nibble bit
    extraction keeps it engine-portable (exact DuckDB twin).

    ONE shuffle: the 64 bit positions fold as 64 conditional-sum aggregates
    in a single groupBy(id) (map-side partial aggregation carries one
    64-column row per (partition, id)) — not a 64x row explosion through a
    (id, bit) shuffle. Hex assembly from the 64 sums is a pure projection.
    """
    # (Round-10 negative result, kept so it is not retried: a driver tier
    # collecting the (id, distinct-token) relation and building signatures
    # in numpy measured 2.7 -> 4.8 s med in a 5-draw interleaved A/B at
    # sf0.1 — the per-occurrence Arrow transfer plus the p x 64 bit-sum
    # materialization cost more than the one map-side-partial aggregation
    # it replaced. The aggregation below IS the efficient shape; only the
    # downstream PAIR machinery was worth a driver tier — see
    # simhash_near_dup_pairs.)
    # token projection below the spread exchange + explode_outer: same plan
    # rationale as shingles() — keep InferFiltersFromGenerate from pushing
    # the tokenizer expression into the (possibly single-task) scan stage
    base = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(normalize_text(F.col(text_col)))).alias("_tks"),
    )
    base = spread(base)
    toks = (
        base.select("id", F.explode_outer("_tks").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .withColumn("th", F.md5(F.col("tok")))
    )

    # 4 conv() hex->int words per token instead of 64 per-bit substr+instr
    # string probes (measured ~1.5 s of the agg stage at sf0.1): word i
    # packs hex chars [4i, 4i+4) with char 4i most significant, so hex
    # char k = (w[k//4] >> 4*(3 - k%4)) & 15 and signature bit j (bit j%4
    # of nibble j//4, LSB-first — the original convention) is one
    # shiftright+mask. Bit values are identical; the oracle is untouched.
    words = toks.select(
        "id",
        *[
            F.conv(F.substring("th", 1 + 4 * i, 4), 16, 10)
            .cast("int")
            .alias(f"_w{i}")
            for i in range(4)
        ],
    )

    def bit(j: int) -> Column:
        k = j // 4  # hex char index
        shift = 4 * (3 - k % 4) + (j % 4)
        return F.shiftright(F.col(f"_w{k // 4}"), shift).bitwiseAND(F.lit(1))

    sums = words.groupBy("id").agg(
        *[F.sum(bit(j) * 2 - 1).alias(f"_s{j}") for j in range(64)]
    )
    nib_chars = [
        F.expr(
            "substr('{hex}', {v} + 1, 1)".format(
                hex=_HEX,
                v=" + ".join(
                    f"(CASE WHEN _s{nib * 4 + jj} > 0 THEN {2 ** jj} ELSE 0 END)"
                    for jj in range(4)
                ),
            )
        )
        for nib in range(16)
    ]
    return sums.select("id", F.concat(*nib_chars).alias("simhash"))


def _components_pdf(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_nodes: int = 2_000_000,
    max_pairs: int = 8_000_000,
) -> DataFrame | None:
    """Small-graph connected-components tier: the min-label fixpoint as
    driver-side numpy over TWO Arrow collects (node ids and pair
    endpoints) when both inputs' Catalyst estimates admit the
    ``lesw.smallCorpusCacheBytes`` gate — guide §1.2: on a test-scale
    graph the distributed fixpoint is 4-8 rounds of join+agg+checkpoint
    jobs whose cost is pure per-round fixed overhead, and every consumer
    (clusters, keep-best, leakage split, the curation near-dup stage)
    pays it. The label array propagates mins over the edge list with
    pointer-doubling (same O(log diameter) behavior as the star rounds);
    labels are ranks in id-sorted order, so the converged min-rank IS the
    min reachable id — ``comp`` identical to the distributed fixpoints by
    construction. ``None`` past any gate (estimate missing/large, or the
    collected graph exceeds the row caps): the distributed rounds below
    stay the 100 TB shape."""
    import numpy as np
    import pandas as pd

    # Round-11 (VERDICT r10 task #7): the row caps bound the COLLECT
    # itself, not just the arrays built after it. ``pairs`` is a
    # join-derived relation whose Catalyst size estimate can UNDER-read
    # (selectivity guesswork), so "collect, then check len" would let a
    # bad estimate pull an unbounded frame onto the driver before the cap
    # could fire. limit(cap + 1) keeps the transfer bounded by
    # construction: a full result under the cap is unaffected (limit of a
    # smaller set is the set), and cap + 1 collected rows means "over the
    # cap" -> fall back to the distributed fixpoint.
    # Null endpoints poison the factorize-based labeling: pd.factorize
    # encodes NaN/None as code -1, so rank[codes] would WRAP to the last
    # rank and silently merge null nodes into an arbitrary id's component,
    # where the distributed fixpoint keeps null as its own label row
    # (round-10 ADVICE). Nulls -> distributed rounds.
    ids_pdf = small_corpus_pdf(
        nodes.select(F.col(id_col).alias("id")).limit(max_nodes + 1),
        nodes,
        pairs,
        nonnull=("id",),
    )
    if ids_pdf is None or len(ids_pdf) > max_nodes:
        return None
    pairs_pdf = small_corpus_pdf(
        pairs.select("id_a", "id_b").limit(max_pairs + 1),
        nodes,
        pairs,
        nonnull=("id_a", "id_b"),
    )
    if pairs_pdf is None or len(pairs_pdf) > max_pairs:
        return None
    all_ids = pd.concat(
        [ids_pdf["id"], pairs_pdf["id_a"], pairs_pdf["id_b"]],
        ignore_index=True,
    )
    codes, uniq = pd.factorize(all_ids)
    n = len(uniq)
    spark = nodes.sparkSession
    id_type = nodes.schema[id_col].dataType.simpleString()
    if n == 0:
        return spark.createDataFrame([], f"id {id_type}, comp {id_type}")
    # rank codes by id order so min-rank == min-id
    uniq_arr = np.asarray(uniq)
    order = np.argsort(uniq_arr, kind="mergesort")
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n, dtype=np.int64)
    ranked = rank[codes]
    nn = len(ids_pdf)
    a = ranked[nn : nn + len(pairs_pdf)]
    b = ranked[nn + len(pairs_pdf) :]
    label = np.arange(n, dtype=np.int64)
    for _ in range(64):
        prev = label
        m = np.minimum(label[a], label[b])
        label = label.copy()
        np.minimum.at(label, a, m)
        np.minimum.at(label, b, m)
        label = np.minimum(label, label[label])  # pointer-double
        if np.array_equal(label, prev):
            break
    else:  # pragma: no cover - log-diameter always converges in 64
        return None
    sorted_ids = uniq_arr[order]
    out = pd.DataFrame({"id": sorted_ids, "comp": sorted_ids[label]})
    return spark.createDataFrame(out, schema=f"id {id_type}, comp {id_type}")


def dup_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: (id, comp) where comp is the
    minimum id reachable through the pair graph (singletons map to
    themselves) — the keep-one-per-cluster step that turns pairwise dedup
    output into a drop list.

    Iterative min-label propagation, Spark-first: each round pushes every
    node's current label across the symmetrized edges (one shuffle join)
    and folds with a min-agg (second shuffle); ``localCheckpoint`` truncates
    the lineage so the plan stays O(1) per round instead of growing by two
    shuffles every iteration, and the convergence check (labels changed ==
    0) doubles as the round's one action. Rounds needed = graph diameter in
    label-hops — near-dup clusters are shallow (dups of one document), so
    a handful; for adversarially long chains the large-star/small-star
    variant (halving diameter per round) is the production refinement.

    Non-SQL-expressible as ONE query in Spark, but DuckDB's recursive CTE
    computes the same fixpoint — the driver query uses it as the oracle.
    """
    small = _components_pdf(nodes, pairs, id_col)
    if small is not None:
        return small
    # seed from nodes UNION pair endpoints: an endpoint missing from nodes
    # would otherwise never carry its own label, skewing minima AND hiding
    # its first appearance from the convergence join (premature break)
    ids = (
        nodes.select(F.col(id_col).alias("id"))
        .unionAll(pairs.select(F.col("id_a").alias("id")))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    from .util import persisted_rdd_ids, unpersist_rdd_ids

    base = persisted_rdd_ids(pairs)
    sym = (
        pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
        .unionAll(pairs.select(F.col("id_b").alias("x"), F.col("id_a").alias("y")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sym_ids = persisted_rdd_ids(pairs) - base
    labels = ids.select("id", F.col("id").alias("comp")).localCheckpoint(eager=True)
    label_ids = persisted_rdd_ids(pairs) - base - sym_ids
    for _ in range(max_iter):
        pushed = (
            sym.join(labels, sym["x"] == labels["id"])
            .select(F.col("y").alias("id"), "comp")
        )
        new_labels = (
            labels.unionAll(pushed).groupBy("id").agg(F.min("comp").alias("comp"))
        )
        # lazy checkpoint: the convergence count below is the action that
        # materializes it — one job per round, not checkpoint + count
        before = persisted_rdd_ids(pairs)
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        round_ids = persisted_rdd_ids(pairs) - before
        # the count materialized this round's checkpoint: the superseded
        # labels round can leave storage NOW — without this, every round
        # stays persisted for the session's lifetime
        unpersist_rdd_ids(pairs, label_ids)
        label_ids = round_ids
        labels = new_labels
        if changed == 0:
            # final labels are materialized and independent of the edges
            unpersist_rdd_ids(pairs, sym_ids)
            break
    else:
        raise RuntimeError(f"dup_components did not converge in {max_iter} rounds")
    return labels


def dup_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """``dup_components`` by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    identical output, O(log diameter) rounds instead of O(diameter).

    Per round, large-star hangs every neighbor LARGER than u off the
    minimum of u's closed neighborhood, and small-star re-hangs the smaller
    neighbors; each is one groupBy + one join + a distinct, all keyed on
    node ids (no global hot key). Convergence = the canonical edge-set
    fingerprint (count + xxhash64 sum, order-insensitive) repeating, at
    which point the graph is a disjoint union of stars centered at the
    component minima, and the label read-off is a single min-agg.

    For the shallow clusters real near-dup graphs produce, the plain
    propagation in ``dup_components`` converges just as fast with cheaper
    rounds; this variant is the scale path for adversarial long chains
    (quote chains, boilerplate gradients) where diameter, and therefore
    propagation rounds, grows unbounded.
    """
    small = _components_pdf(nodes, pairs, id_col)
    if small is not None:
        return small
    from .util import persisted_rdd_ids, unpersist_rdd_ids

    base = persisted_rdd_ids(pairs)
    edges = (
        pairs.select(F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    edge_ids = persisted_rdd_ids(pairs) - base

    def fingerprint(e: DataFrame):
        # one action per round; canonical orientation makes it order- and
        # direction-insensitive
        row = e.select(F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")).agg(
            F.count("*").alias("n"),
            # decimal accumulator: a bigint sum of 64-bit hashes overflows
            # under ANSI semantics
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def large_star(e: DataFrame) -> DataFrame:
        s = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = s.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        return (
            s.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = o.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        hung = o.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        centers = m.select("u", F.col("m").alias("v"))
        return (
            hung.unionAll(centers).filter(F.col("u") != F.col("v")).distinct()
        )

    fp = fingerprint(edges)
    for _ in range(max_iter):
        before = persisted_rdd_ids(pairs)
        edges = small_star(large_star(edges)).localCheckpoint(eager=False)
        new_fp = fingerprint(edges)  # materializes this round's checkpoint
        round_ids = persisted_rdd_ids(pairs) - before
        unpersist_rdd_ids(pairs, edge_ids)  # superseded round leaves storage
        edge_ids = round_ids
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(f"dup_components_star did not converge in {max_iter} rounds")

    # star state: every non-center points straight at its component min
    mins = (
        edges.select(F.greatest("u", "v").alias("id"), F.least("u", "v").alias("c"))
        .groupBy("id")
        .agg(F.min("c").alias("c"))
    )
    # seed ids from nodes UNION the FINAL (checkpointed, still-persisted)
    # star edges, not the raw pairs frame: star contraction preserves the
    # non-singleton vertex set, and an ids built on ``pairs`` would
    # re-execute the (quadratic-ish) pair search one extra time when the
    # read-off below is consumed. Every pair generator in this repo emits
    # id_a < id_b, so no endpoint exists only as a self-pair; an id
    # appearing ONLY as a self-pair must be in nodes.
    ids = (
        nodes.select(F.col(id_col).alias("id"))
        .unionAll(edges.select(F.col("u").alias("id")))
        .unionAll(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    return ids.join(mins, "id", "left").select(
        "id", F.coalesce("c", F.col("id")).alias("comp")
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    sep: str = ". ",
) -> DataFrame:
    """Paragraph-level dedup (the Dolma/CCNet recipe): drop any paragraph
    whose normalized form appears in >= ``min_df`` documents (boilerplate,
    headers, navigation chrome), keep the remainder IN ORDER, and
    reconstruct the document.

    Plumbing: posexplode keeps each paragraph's position; the repeated-
    paragraph lexicon is one (hash -> doc-frequency) aggregate — its
    >=min_df survivors are a small blocklist joined back broadcast-or-AQE;
    reconstruction re-assembles via sort_array over (pos, text) structs so
    order never depends on shuffle nondeterminism. Documents whose every
    paragraph was boilerplate come back with empty text rather than
    disappearing (left join + coalesce).

    The "paragraph" splitter here is sentence-ish (the driver corpus is
    single-line); swap ``sep`` for '\\n\\n' on real documents.
    """
    import re as _re

    # F.split takes a REGEX: escape the literal separator
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(F.split(F.col(text_col), _re.escape(sep), -1)).alias(
            "pos", "para"
        ),
    ).filter(F.col("para").isNotNull() & (F.trim(F.col("para")) != ""))
    keyed = paras.withColumn("pkey", F.md5(normalize_text(F.col("para"))))
    blocklist = (
        keyed.groupBy("pkey")
        .agg(F.count_distinct("id").alias("pdf"))
        .filter(F.col("pdf") >= min_df)
        .select("pkey")
    )
    kept = keyed.join(blocklist, "pkey", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("n_paras_kept"),
    )
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_paras_kept", F.lit(0)).cast("bigint").alias("n_paras_kept"),
        )
    )


def containment_pairs(
    df: DataFrame,
    n: int = 2,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
    dense_vocab_limit: int = 1 << 16,
    dense_bytes_limit: int = 1 << 30,
) -> DataFrame:
    """Asymmetric containment C(src, dst) = |src ∩ dst| / |src|: how much
    of ``src`` is inside ``dst``. Catches excerpts, quotations, and
    doc-inside-doc duplication that symmetric Jaccard misses (a short doc
    fully contained in a long one has low Jaccard but containment 1.0).
    Containment has no size-ratio prefilter (that asymmetry is the point),
    so skew control comes from ASYMMETRIC PREFIX FILTERING instead:

    - Every (doc, shingle) posting is flagged ``is_pre`` when the shingle
      sits in the doc's first ``|s| - ceil(t|s|) + 1`` positions under a
      global xxhash64 order (the same map-side array-sort + slice bound as
      ``_jaccard_pairs_prefix``). Completeness: if C(a→b) >= t then
      |a ∩ b| >= alpha = ceil(t|a|); were none of a's first
      ``|a| - alpha + 1`` hash-ordered shingles in b, all >= alpha common
      shingles would have to fit in a's remaining alpha - 1 positions —
      impossible. So a qualifying direction ALWAYS produces a bucket where
      the src side is prefix-flagged, and candidate pairs only need
      generating when at least one side's posting is a prefix entry —
      ~(1-t) of the quadratic bucket fanout instead of all of it.
    - Survivors verify EXACTLY on the full per-doc shingle arrays
      (array_intersect), so the prefix filter loses nothing.
    - ``max_shingle_df`` additionally drops postings of shingles whose
      document frequency exceeds the cap — the hard bound on posting-list
      length a web corpus needs (one stop-shingle of df d otherwise
      contributes O(d * (1-t)d) candidates). UNLIKE the Jaccard postings
      path the cap here does NOT redefine the shingle sets (verification
      still uses full arrays); it is purely a candidate-generation prune
      with BOUNDED RECALL LOSS: a pair whose overlap consists exclusively
      of capped stop-shingles is never generated, hence never verified.
      Capped and uncapped outputs are NOT interchangeable — see
      tests/test_pipeline_ops.py for the pinned divergence.

    Output: (src_id, dst_id, containment) with containment >= threshold,
    src_id != dst_id.
    """
    t = threshold - 1e-6
    arrays = shingle_arrays(df, n, text_col, id_col)
    # Small-corpus persist (round-10): the per-doc gram arrays feed THREE
    # plan branches (the posting explosion and both verify-join sides), so
    # the regex-heavy shingle pipeline otherwise evaluates three times per
    # action.
    arrays = persist_if_small(arrays, df)
    # Dense-BLAS gate (round-10): on a dense vocabulary the prefix filter
    # cannot prune (observed at sf0.1: 5.86M of 12.5M possible candidate
    # pairs survive it — then a multi-million-row distinct and two
    # verify joins with per-pair array_intersect). The SAME matmul the
    # Jaccard dense path runs yields every pair's intersection count
    # exactly, so the whole candidate/distinct/verify pipeline collapses
    # to one broadcast map. Same two-tier probe + cost gate as
    # jaccard_pairs; the f32 pre-filter compares inter >= pre*min(na,nb)
    # (a pair qualifies in SOME direction iff its containment against
    # the smaller set clears the threshold), and the exact per-direction
    # round()/filter runs in _containment_directed — the identical
    # expression the sparse path ends with. ONLY when max_shingle_df is
    # None: the df cap is a candidate-generation prune with documented
    # recall loss, so capped output differs from exact by design and
    # must keep the sparse shape.
    if max_shingle_df is None and dense_vocab_limit > 0 and dense_bytes_limit > 0:
        sh = arrays.select(
            "id", F.explode_outer("_grams").alias("shingle")
        ).filter(F.col("shingle").isNotNull())
        id_type = df.schema[id_col].dataType.simpleString()
        # the small-corpus collect reads through (and fills) the arrays
        # persist above, so the sparse fallthrough's three consumers
        # still hit the cache
        tier, pdf, codes = _self_join_tier(
            sh, df, dense_vocab_limit, dense_bytes_limit
        )
        if tier == "pdf":
            return _containment_directed(
                _containment_dense_cand_pdf(
                    df.sparkSession, pdf, codes, threshold, id_type
                ),
                threshold,
            )
        if tier == "dense":
            return _containment_directed(
                _containment_dense_cand(sh, threshold, id_type), threshold
            )
    hashed = F.array_sort(
        F.transform("_grams", lambda g: F.struct(F.xxhash64(g).alias("h"), g.alias("g")))
    )
    n_sh = F.size("_grams")
    plen = (n_sh - F.ceil(F.lit(t) * n_sh) + 1).cast("int")
    posting = (
        arrays.select(
            "id",
            plen.alias("_plen"),
            F.posexplode_outer(F.transform(hashed, lambda s: s["g"])).alias(
                "pos", "shingle"
            ),
        )
        .filter(F.col("shingle").isNotNull())
        .select("id", "shingle", (F.col("pos") < F.col("_plen")).alias("is_pre"))
    )
    if max_shingle_df is not None:
        rare = (
            posting.groupBy("shingle").count().filter(F.col("count") <= max_shingle_df)
        )
        posting = posting.join(rare.select("shingle"), "shingle")
    cands = (
        _bucket_local_pairs(posting, ["shingle"], ["is_pre"])
        .filter(F.col("a.is_pre") | F.col("b.is_pre"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = arrays.select(F.col("id").alias("_ia"), F.col("_grams").alias("_sa"))
    sb = arrays.select(F.col("id").alias("_ib"), F.col("_grams").alias("_sb"))
    verified = (
        cands.join(sa, cands["id_a"] == sa["_ia"])
        .join(sb, cands["id_b"] == sb["_ib"])
        .select(
            "id_a",
            "id_b",
            F.size("_sa").alias("na"),
            F.size("_sb").alias("nb"),
            F.size(F.array_intersect("_sa", "_sb")).alias("n_inter"),
        )
    )
    return _containment_directed(verified, threshold)


def _containment_directed(verified: DataFrame, threshold: float) -> DataFrame:
    """Both directed containments from an unordered verified-pair table
    (id_a, id_b, n_inter, na, nb) — ONE definition of the final rounding
    + threshold expression, shared by the sparse verify path and the
    dense-BLAS path so ties resolve identically by construction."""
    directed = verified.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("dst_id"),
                    F.round(F.col("n_inter") / F.col("na").cast("double"), 6).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("dst_id"),
                    F.round(F.col("n_inter") / F.col("nb").cast("double"), 6).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("p")
    ).select("p.src_id", "p.dst_id", "p.containment")
    return directed.filter(F.col("containment") >= threshold)


# ---------------------------------------------------------------------------
# Distributed Bloom filter (probabilistic membership), pure Catalyst
# ---------------------------------------------------------------------------
def _bloom_positions(key, m_bits: int, k_hashes: int):
    """The k bit positions of a key: independent seeded md5 draws, exactly
    reproducible in any engine with md5 + string concat (no murmur/xxhash
    dependency, no sign pitfalls)."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"bloom{j}|"), key.cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % m_bits
        for j in range(k_hashes)
    ]


def bloom_filter_words(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> DataFrame:
    """Build a Bloom filter over a key column as a WORD TABLE:
    (word_idx, bits) rows where ``bits`` packs 32 filter bits into the low
    half of a BIGINT via a ``bit_or`` aggregate.

    Spark ships a Bloom filter only as an internal join-pruning expression
    (``bloom_filter_agg`` is not a registered SQL function), so this is the
    DataFrame-native equivalent — with the property the internal one lacks:
    the filter itself is a queryable, persistable, oracle-checkable table.

    Scale shape: each key emits its k positions map-side; one ``bit_or``
    aggregation over word_idx collapses ANY corpus cardinality to at most
    m_bits/32 rows (8 KB of longs per 2^16 bits) — the classic "membership
    state that fits in a broadcast no matter how big history gets". 32-bit
    packing (not 64) keeps every mask within positive BIGINT range in both
    engines. Size m_bits ~ 10-15 bits/key for ~1% false positives."""
    key = F.col(key_col)
    pos = F.explode(F.array(*_bloom_positions(key, m_bits, k_hashes))).alias("pos")
    words = (
        df.select(pos)
        .select(
            (F.col("pos") / 32).cast("bigint").alias("word_idx"),
            # shiftleft's python wrapper wants a literal shift; the SQL
            # form takes an expression
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )
    return words


def bloom_probe(
    batch: DataFrame,
    words: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> DataFrame:
    """Probe a batch against a Bloom word table: ``maybe_present`` is true
    iff ALL k probe bits are set — no false negatives ever (members always
    report present), false positives at the filter's designed rate; a
    false ``maybe_present`` is a PROOF of novelty. The admission pattern:
    route maybe-present keys into the (expensive) exact/near-dup check,
    admit the definitely-new rest straight through — at ingestion scale
    the filter eliminates the corpus lookup for the vast majority of keys.

    The word table broadcasts (bounded at m_bits/32 rows by construction);
    the k probes explode map-side and one groupBy over the batch key
    re-collapses them — the corpus itself is never touched."""
    key = F.col(key_col)
    probes = batch.select(
        key.alias("key"),
        F.posexplode(F.array(*_bloom_positions(key, m_bits, k_hashes))).alias(
            "j", "pos"
        ),
    ).select(
        "key",
        "j",
        (F.col("pos") / 32).cast("bigint").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("mask"),
    )
    hit = (
        F.coalesce(F.col("bits"), F.lit(0).cast("bigint")).bitwiseAND(F.col("mask"))
        != 0
    )
    # min(hit) == 1 <=> every probe bit is set. Multiplicity-INDEPENDENT:
    # a key occurring r times in the batch emits r*k probe rows, and any
    # count-based test (sum == k) would flip members to definitely_new for
    # r > 1 — duplicated keys are the NORMAL case for an admission batch,
    # so that would silently skip the exact/near-dup check for exactly the
    # rows most likely to be dups. min() is invariant under duplication.
    return (
        probes.join(F.broadcast(words), "word_idx", "left")
        .select("key", hit.cast("int").alias("hit"))
        .groupBy("key")
        .agg((F.min("hit") == F.lit(1)).alias("maybe_present"))
        .select("key", "maybe_present", (~F.col("maybe_present")).alias("definitely_new"))
    )


def dup_span_profile(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-document duplicated-SPAN coverage — the document-level signal
    of exact substring deduplication (Lee et al., ACL'22 "Deduplicating
    Training Data Makes Language Models Better"): what fraction of a
    doc's token positions lie inside an ``n``-gram that occurs more than
    once in the corpus (cross-doc or repeated within one doc). Docs with
    high coverage are memorization risks even when no whole-document
    near-dup fires.

    Physical shape: positioned shingles are a map-side transform; one
    partial-agg groupBy counts occurrences per shingle; duplicated
    shingles (a 1-row-per-key build side, so the join fans out x1 — no
    pair explosion, AQE splits any stop-shingle skew) mark their n
    covered token positions, which dedup per doc and count. Nothing in
    the plan grows faster than the token stream.

    Output: (id, n_tokens, n_dup_tokens, dup_frac_q) for EVERY doc
    (zero coverage rows included), dup_frac_q = floor(quant * covered /
    n_tokens) — integer, hash-checkable.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(normalize_text(F.col(text_col))).alias("_tk"),
    )
    base = spread(base)
    tk = F.col("_tk")
    idx = F.when(F.size(tk) >= n, F.sequence(F.lit(1), F.size(tk) - n + 1)).otherwise(
        F.array().cast("array<int>")
    )
    pos_sh = base.select(
        "id",
        F.size(tk).cast("bigint").alias("n_tokens"),
        F.explode_outer(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"), F.array_join(F.slice(tk, i, n), " ").alias("sh")
                ),
            )
        ).alias("_s"),
    ).select("id", "n_tokens", F.col("_s.pos").alias("pos"), F.col("_s.sh").alias("sh"))
    occ = (
        pos_sh.filter(F.col("sh").isNotNull())
        .groupBy("sh")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("sh")
    )
    covered = (
        pos_sh.filter(F.col("sh").isNotNull())
        .join(occ, "sh")
        .select("id", F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("ti"))
        .distinct()
        .groupBy("id")
        .agg(F.count("*").alias("n_dup_tokens"))
    )
    totals = base.select("id", F.size(tk).cast("bigint").alias("n_tokens"))
    return (
        totals.join(covered, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).cast("bigint").alias("n_dup_tokens"),
            F.floor(
                F.lit(quant)
                * (
                    F.coalesce("n_dup_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens")
                )
            ).cast("bigint").alias("dup_frac_q"),
        )
    )


def substring_dedup(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level deduplication WITH removal (the full Lee et al.,
    ACL'22 treatment, not just the signal): every corpus-duplicated
    ``n``-gram keeps its FIRST occurrence (minimum (doc_id, pos) — a
    deterministic global convention needing no global sort) and every
    other occurrence marks its n token positions for removal; each doc's
    text is rebuilt from its surviving positions in order.

    A position covered by BOTH a first occurrence and a non-first one
    survives: removal takes only positions covered EXCLUSIVELY by
    non-first duplicated occurrences, so the kept copy of a duplicated
    span is never chewed up by an overlapping later duplicate.

    Physical shape: positioned shingles map-side; per-shingle min-struct
    ((id, pos)) partial-aggregates map-side — the same bounded-exchange
    move as the sketch primitives; the keep/remove classification joins
    that 1-row-per-key table back (fan-out x1); position sets resolve
    with two doc-local aggs; the rebuild is a doc-local sorted
    collect_list over the doc's own surviving tokens (bounded by doc
    length — the same bound tokenizing the doc already needs).

    Output: (id, clean_text, n_tokens, n_removed) for EVERY doc.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(normalize_text(F.col(text_col))).alias("_tk"),
    )
    base = spread(base)
    tk = F.col("_tk")
    idx = F.when(F.size(tk) >= n, F.sequence(F.lit(1), F.size(tk) - n + 1)).otherwise(
        F.array().cast("array<int>")
    )
    pos_sh = base.select(
        "id",
        F.explode_outer(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"), F.array_join(F.slice(tk, i, n), " ").alias("sh")
                ),
            )
        ).alias("_s"),
    ).select("id", F.col("_s.pos").alias("pos"), F.col("_s.sh").alias("sh")).filter(
        F.col("sh").isNotNull()
    )
    per_sh = pos_sh.groupBy("sh").agg(
        F.count("*").alias("occ"),
        F.min(F.struct("id", "pos")).alias("first"),
    )
    dup_occ = (
        pos_sh.join(per_sh.filter(F.col("occ") >= 2), "sh")
        .select(
            "id",
            "pos",
            (
                (F.col("id") == F.col("first.id")) & (F.col("pos") == F.col("first.pos"))
            ).alias("is_first"),
        )
    )
    marks = dup_occ.select(
        "id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("ti"),
        "is_first",
    ).groupBy("id", "ti").agg(F.max("is_first").alias("kept_cover"))
    removed = marks.filter(~F.col("kept_cover")).groupBy("id").agg(
        F.collect_list("ti").alias("_rm")
    )
    rebuilt = (
        base.join(removed, "id", "left")
        .select(
            "id",
            F.size(tk).cast("bigint").alias("n_tokens"),
            F.coalesce(F.size("_rm"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.array_join(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.size(tk)),
                        lambda i: F.when(
                            F.coalesce(
                                F.array_contains(F.col("_rm"), i), F.lit(False)
                            ),
                            F.lit(None).cast("string"),
                        ).otherwise(F.element_at(tk, i)),
                    ),
                    lambda x: x.isNotNull(),
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return rebuilt.select("id", "clean_text", "n_tokens", "n_removed")


def repeated_ngrams(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide boilerplate n-gram mining: the ``k`` n-grams shared by
    the most documents (doc frequency >= ``min_docs``) — the analysis
    report behind every substring-dedup / boilerplate-blocklist decision
    (which navigation chrome, headers, and license footers dominate the
    corpus; Lee et al., ACL'22 report exactly this table for C4).

    Physical shape: distinct-per-doc shingles are map-side (``shingles``);
    doc frequency is one partial-agg groupBy on the shingle; the global
    top-k runs through ``grouped_topk_threshold`` (single group — its
    documented sweet spot: one group, unbounded per-group cardinality),
    never a global rank over the full shingle-frequency table. Ties break
    on the shingle text, so the report is deterministic.

    Output: (shingle, n_docs, rank), rank 1-based by n_docs desc.
    """
    from .sketch import grouped_topk_threshold

    dfreq = (
        shingles(df, n=n, text_col=text_col, id_col=id_col)
        .groupBy("shingle")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    ranked = grouped_topk_threshold(
        dfreq.withColumn("_g", F.lit(0)).withColumn(
            "neg_docs", -F.col("n_docs").cast("bigint")
        ),
        "_g",
        ["neg_docs", "shingle"],
        k,
    )
    return ranked.select(
        "shingle",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("rk").cast("bigint").alias("rank"),
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc corpus-novelty counts: of a document's distinct n-gram
    shingles, how many appear in NO other document (doc frequency == 1)?
    The complement of ``repeated_ngrams``'s boilerplate view — the
    "unique n-gram fraction" table dataset cards publish as a
    memorization-risk / content-originality signal (a doc whose shingles
    all recur elsewhere is template chrome; a doc that is mostly
    corpus-unique carries novel text).

    Physical shape — ONE evaluation of the gram scan, NO join back to
    the exploded shingle table: grouping sets (shingle) + (id) compute
    doc frequencies and per-doc totals in a single Expand(x2) partial
    agg. A df==1 shingle has exactly one owner, so ``min(id)`` computed
    inside the SAME aggregate as the doc-frequency count IS the owning
    doc; a second groupBy over the already-collapsed (distinct-shingle +
    doc-sized, not corpus-sized) table folds totals and novelty credits
    into one row per doc. A hot boilerplate shingle collapses to a
    single row in the first partial agg — no skew amplification at any
    df.

    Output: (id, n_shingles, n_novel) for every doc with >= n tokens.
    """
    # ONE evaluation of the (regex-heavy) gram scan for BOTH outputs:
    # grouping sets (shingle) + (id) over the exploded table compute the
    # doc-frequency groups and the per-doc totals in a single Expand(x2)
    # + partial agg — vs evaluating the shingle scan twice (once for the
    # map-side totals, once for the exploded df count; measured ~1.9x
    # here, the scan dominates). Both grouping-set outputs then collapse
    # into ONE per-doc rollup: an id-group row carries the doc's total
    # (its group count), a df==1 shingle-group row carries one novelty
    # unit credited to its only owner (min(id) == the owner).
    ex = shingles(df, n=n, text_col=text_col, id_col=id_col).withColumn(
        "_idc", F.col("id")  # aggregable copy: `id` itself is a grouping column
    )
    g = (
        ex.groupingSets([["shingle"], ["id"]], "shingle", "id")
        .agg(
            F.count("*").alias("_cnt"),
            F.min("_idc").alias("_owner"),
            F.grouping_id().alias("_gid"),
        )
    )
    # grouping_id bits follow the groupBy column order (shingle, id):
    # the (id) set aggregates shingle away -> gid 0b10 == 2
    is_id_group = F.col("_gid") == 2
    per_doc = (
        g.filter(is_id_group | (F.col("_cnt") == 1))
        .select(
            F.coalesce(F.col("id"), F.col("_owner")).alias("id"),
            F.when(is_id_group, F.col("_cnt")).otherwise(F.lit(0)).alias("_tot"),
            F.when(is_id_group, F.lit(0)).otherwise(F.lit(1)).alias("_nov"),
        )
        .groupBy("id")
        .agg(
            F.sum("_tot").cast("bigint").alias("n_shingles"),
            F.sum("_nov").cast("bigint").alias("n_novel"),
        )
    )
    return per_doc.select("id", "n_shingles", "n_novel")


def source_overlap_matrix(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Inter-corpus contamination matrix: for every source pair, the
    number of distinct n-gram shingles they share and the set-level
    Jaccard — the slice-vs-slice overlap report that decides whether two
    crawl snapshots / corpus slices are independent enough to mix
    (``cross_source_dups`` lists the individual offending doc pairs;
    this is the aggregate view).

    Physical shape: the (source, shingle) distinct table partial-aggs
    map-side; per-shingle source sets are bounded by the SOURCE
    DIMENSION (collect_set over <= k sources — never a doc list), and
    the unordered pair explode is map-side over those <= k(k-1)/2
    element arrays. A shingle shared by every source contributes k(k-1)/2
    pair rows, not a cross join — no skew amplification. Source pairs
    sharing zero shingles are absent from the output.

    Output: (source_a, source_b, n_a, n_b, n_common, jaccard_micro).
    """
    sh = (
        shingles(df, n=n, text_col=text_col, id_col=source_col)
        .withColumnRenamed("id", "source")
        .distinct()
    )
    counts = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    sets = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("_ss"))
        .filter(F.size("_ss") >= 2)
    )
    arr = F.col("_ss")
    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    mat = (
        sets.select(F.explode(pairs).alias("_p"))
        .select("_p.source_a", "_p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        mat.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.expr("(1000000 * n_common) div (n_a + n_b - n_common)")
            .cast("bigint")
            .alias("jaccard_micro"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS scheme): hash every k-gram, slide a w-wide
    window over the hash sequence, keep each window's minimum. The
    guarantee the paper proves: any shared run of >= k+w-1 tokens leaves
    at least one COMMON selected fingerprint in both documents, with
    only ~2/(w+1) of all gram hashes retained — the density/recall
    trade the full-shingle index can't make.

    Everything is one map-side projection (the ``shingles`` spread/
    projection discipline): gram hashes are seeded md5 prefixes (the
    ``_bloom_positions`` recipe — engine-portable, no murmur), the
    window minimum is a transform over index sequences, and the distinct
    collapses repeated minima (consecutive windows usually share their
    min — that is winnowing's compression). Docs shorter than k+w-1
    tokens emit nothing.

    Output: (id, fp) — one row per distinct selected fingerprint.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(normalize_text(F.col(text_col))).alias("_tk"),
    )
    base = spread(base)
    tk = F.col("_tk")
    gidx = F.when(
        F.size(tk) >= k + w - 1, F.sequence(F.lit(0), F.size(tk) - k)
    ).otherwise(F.array().cast("array<int>"))
    gram = lambda i: F.conv(
        F.substring(F.md5(F.array_join(F.slice(tk, i + 1, k), " ")), 1, 8), 16, 10
    ).cast("bigint")
    hashed = base.select("id", F.transform(gidx, gram).alias("_h"))
    h = F.col("_h")
    wins = F.when(
        F.size(h) >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(h) - w),
                lambda j: F.array_min(F.slice(h, j + 1, w)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    out = hashed.select("id", F.explode_outer(wins).alias("fp"))
    return out.filter(F.col("fp").isNotNull())


def winnowing_dup_pairs(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by shared winnowed fingerprints: the MOSS match
    step — count common selected fingerprints per doc pair, keep pairs
    with >= ``min_shared``. Winnowing keeps ~2/(w+1) of gram hashes, so
    this is the Jaccard postings join at a fraction of the index size,
    with the paper's guarantee that long shared runs cannot be missed.

    ``max_fp_df`` is the same certified skew guard as
    ``jaccard_pairs(max_shingle_df=...)``: a boilerplate fingerprint
    shared by m docs would explode m(m-1)/2 pair rows; capping document
    frequency drops only stop-fingerprints (and REDEFINES the match set
    accordingly — capped and uncapped runs are different, both exact on
    their own terms). Shuffles: the postings groupBy(fp) [+ df-count agg
    under the cap] and the pair rollup — never an all-pairs join.

    Output: (id_a, id_b, n_shared).
    """
    fps = winnowing_fingerprints(df, k=k, w=w, text_col=text_col, id_col=id_col)
    if max_fp_df is not None:
        if max_fp_df < 1:
            raise ValueError("max_fp_df must be >= 1")
        ok = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_fp_df)
            .select("fp")
        )
        fps = fps.join(ok, "fp")
    a = fps.select(F.col("fp").alias("fp"), F.col("id").alias("id_a"))
    b = fps.select(F.col("fp").alias("fp"), F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score: Column,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Per-duplicate-cluster representative selection by QUALITY, not id:
    the doc modern curation pipelines actually keep is the best-scoring
    cluster member (FineWeb keeps by quality signals; min-id is only the
    determinism fallback) — ties break to the smaller id so the choice
    stays reproducible.

    Physical shape: components from ``dup_components`` (min-label rounds),
    one id-keyed join to attach (comp, score), then ONE partial-aggregating
    groupBy(comp) — the argmax rides a struct max (score desc, id asc via
    negated id), so there is no per-cluster sort or rank window anywhere;
    comp keys are min-ids of shallow clusters, so no global hot key forms
    at 100 TB. ``score`` must be integer-typed (quantize first — see
    quality_score's floor discipline) for engine-stable ordering.

    Output: (comp, n_members, keep_id, best_q), one row per cluster
    including singletons (filter n_members >= 2 for dup clusters only).
    ``components`` accepts a precomputed (id, comp) map so composed
    pipelines that already ran the fixpoint never run it twice.
    """
    comp = (
        components
        if components is not None
        else dup_components(df, pairs, id_col=id_col)
    )
    scored = df.select(F.col(id_col).alias("id"), score.alias("_q")).join(comp, "id")
    best = scored.groupBy("comp").agg(
        F.max(F.struct(F.col("_q").alias("q"), (-F.col("id")).alias("nid"))).alias("_b"),
        F.count("*").cast("bigint").alias("n_members"),
    )
    return best.select(
        "comp",
        "n_members",
        (-F.col("_b.nid")).cast("bigint").alias("keep_id"),
        F.col("_b.q").alias("best_q"),
    )
