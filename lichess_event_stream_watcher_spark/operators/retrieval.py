"""BM25 full-text retrieval over the document corpus.

The training-data use case: query-driven corpus inspection and
benchmark-decontamination lookups ("which documents score highest for
this eval question?") want a ranked lexical retrieval primitive, not just
pair-wise dedup. BM25 (Robertson et al., TREC-3) is the standard.

Scale shape — the part that matters at 100 TB:

- the query set is tiny and LITERAL: its term list inlines into a
  map-side filter on the token stream, so the postings materialized are
  ONLY for query terms (a vanishing fraction of the corpus token
  stream), never a full inverted index;
- doc lengths are a map-side projection; avgdl and N are 1-row
  aggregates broadcast into the scorer;
- per-term df comes from the already-filtered postings (bounded by
  |query terms| rows);
- scoring is one groupBy over (query, doc) matched postings — candidates
  are only docs sharing >= 1 query term.

Determinism split (the repo's standard twin pattern): ``idf_mode="ln"``
is textbook BM25 (Lucene's ln(1 + (N-df+0.5)/(df+0.5)) form) — natural
log is NOT guaranteed bit-identical across engines, so that form is
rows-only for the driver and pinned against a python float twin in
pytest. ``idf_mode="rsj_sqrt"`` replaces ln with sqrt on the same RSJ
odds ratio (both are monotone dampings of df; sqrt is correctly-rounded
IEEE) and quantizes each term contribution to integer micro-units before
the order-independent integer sum — fully hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sketch import grouped_topk_threshold
from .text import normalize_text, tokens

K1 = 1.2
B = 0.75
SCALE = 1_000_000


def _bm25_pdf(docs: DataFrame, queries: dict, k: int, id_col: str, text_col: str):
    """Small-corpus tier of ``bm25_topk`` (rsj_sqrt mode only), or ``None``
    past the gates. ONE Arrow collect of the SPARK-tokenized corpus (the
    tokenizer expressions evaluate in the JVM — java and python regex
    ``\\s`` classes differ, so tokenization is never re-implemented
    driver-side) replaces the two tokenizer scans, the postings/df/stats
    aggregations, the four-way join and the threshold-pruned top-k.

    Bit-parity: tf/df/dl/N/sum_dl are exact integers off the same token
    arrays; the float chain replays the expression tree's exact
    association element-wise in float64 — odds=(N-df+0.5)/(df+0.5),
    idf=sqrt(odds), satur=(tf*(K1+1))/(tf+K1*((1-B)+B*(dl/avgdl))) with
    avgdl=sum_dl/n_docs — every operand exactly representable, every op
    correctly rounded, NO reassociation; per-(query, doc) scores are
    order-free int64 sums of floor(contrib*SCALE); ranking sorts the
    identical total (-score, id) key with row_number semantics."""
    if not queries:
        return None
    import numpy as np
    import pandas as pd

    from .util import small_corpus_pdf

    pdf = small_corpus_pdf(
        docs.select(
            F.col(id_col).alias("id"),
            tokens(normalize_text(F.col(text_col))).alias("tk"),
        ),
        docs,
        nonnull=("id",),
    )
    if pdf is None or len(pdf) == 0:
        return None
    if not pd.api.types.is_integer_dtype(pdf["id"]):
        return None  # the (-score, id) lexsort tie-break assumes int keys
    qterms = [
        (qid, t)
        for qid, qs in sorted(queries.items())
        for t in dict.fromkeys(qs.lower().split())
    ]
    all_terms = sorted({t for _, t in qterms})
    t_ix = {t: j for j, t in enumerate(all_terms)}
    nt = len(all_terms)
    tks = pdf["tk"].to_list()
    n_docs = len(tks)
    dl = np.array([-1 if t is None else len(t) for t in tks], dtype=np.int64)
    sum_dl = int(dl[dl >= 0].sum())  # sum() skips the null-dl docs
    tf_rows, doc_rows, term_rows = [], [], []
    for i, tk in enumerate(tks):
        if tk is None:
            continue
        counts: dict[int, int] = {}
        for tok in tk:
            j = t_ix.get(tok)
            if j is not None:
                counts[j] = counts.get(j, 0) + 1
        for j, c in counts.items():
            doc_rows.append(i)
            term_rows.append(j)
            tf_rows.append(c)
    if not tf_rows:
        empty = pd.DataFrame(
            {"query_id": [], id_col: [], "score_q": [], "rank": []}
        )
        id_t = docs.schema[id_col].dataType.simpleString()
        return docs.sparkSession.createDataFrame(
            empty, schema=f"query_id bigint, {id_col} {id_t}, score_q bigint, rank bigint"
        )
    doc_i = np.array(doc_rows, dtype=np.int64)
    term_i = np.array(term_rows, dtype=np.int64)
    tf = np.array(tf_rows, dtype=np.int64)
    df_t = np.bincount(term_i, minlength=nt).astype(np.int64)
    odds = (float(n_docs) - df_t + 0.5) / (df_t + 0.5)
    idf = np.sqrt(odds)
    avgdl = float(sum_dl) / float(n_docs)
    satur = (tf * (K1 + 1)) / (tf + K1 * ((1.0 - B) + B * (dl[doc_i] / avgdl)))
    contrib_q = np.floor(idf[term_i] * satur * SCALE).astype(np.int64)
    ids = pdf["id"].to_numpy()
    out_frames = []
    qids = sorted(queries)
    for qid in qids:
        sel_terms = np.array(
            [t_ix[t] for t in dict.fromkeys(queries[qid].lower().split())],
            dtype=np.int64,
        )
        mask = np.isin(term_i, sel_terms)
        if not mask.any():
            continue
        docs_m = doc_i[mask]
        # per-doc integer score: sum of this query's term contributions
        uniq_docs, inv = np.unique(docs_m, return_inverse=True)
        scores = np.zeros(len(uniq_docs), dtype=np.int64)
        np.add.at(scores, inv, contrib_q[mask])
        key_ids = ids[uniq_docs]
        order = np.lexsort((key_ids, -scores))[:k]
        out_frames.append(
            pd.DataFrame(
                {
                    "query_id": np.full(len(order), qid, dtype=np.int64),
                    id_col: key_ids[order],
                    "score_q": scores[order],
                    "rank": np.arange(1, len(order) + 1, dtype=np.int64),
                }
            )
        )
    id_t = docs.schema[id_col].dataType.simpleString()
    out = (
        pd.concat(out_frames, ignore_index=True)
        if out_frames
        else pd.DataFrame({"query_id": [], id_col: [], "score_q": [], "rank": []})
    )
    return docs.sparkSession.createDataFrame(
        out, schema=f"query_id bigint, {id_col} {id_t}, score_q bigint, rank bigint"
    )


def bm25_topk(
    docs: DataFrame,
    queries: dict[int, str],
    k: int = 10,
    idf_mode: str = "rsj_sqrt",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents per query by BM25 (k1=1.2, b=0.75).

    ``queries``: {query_id: query_string}; terms are the normalized
    whitespace tokens of each string. Output:
    (query_id, doc_id, score_q, rank) for rsj_sqrt (integer micro-unit
    scores) or (query_id, doc_id, score, rank) for ln (float scores,
    round-6).
    """
    if idf_mode not in ("ln", "rsj_sqrt"):
        raise ValueError(f"unknown idf_mode {idf_mode!r}")
    if idf_mode == "rsj_sqrt":
        # Small-corpus tier (round 11): one Arrow collect of the
        # Spark-tokenized corpus replaces the whole postings/stats/join
        # machinery — see _bm25_pdf for the bit-parity argument. The ln
        # mode stays distributed (its float SUM order is engine-defined
        # there and must not be re-derived). Gate rejections keep the
        # distributed shape below — the 100 TB path.
        small = _bm25_pdf(docs, queries, k, id_col, text_col)
        if small is not None:
            return small
    qterms = [
        (qid, t)
        for qid, qs in sorted(queries.items())
        for t in dict.fromkeys(qs.lower().split())  # per-query unique, ordered
    ]
    all_terms = sorted({t for _, t in qterms})
    spark = docs.sparkSession
    qdf = spark.createDataFrame(qterms, "query_id bigint, term string")

    # The corpus is tokenized PER BRANCH (postings, doc lengths) as pure
    # map-side projections — DELIBERATE, measured round 7: sharing one
    # tokenized frame behind a repartition exchange (so ReusedExchange
    # dedupes the passes) shuffles the corpus's full token arrays and
    # benched 2.3x SLOWER at sf0.1 on a calibrated boot (1.04 -> 2.43 s)
    # than re-running the codegen'd regex at scan speed. Re-tokenizing is
    # O(corpus) parallel CPU with zero network; the exchange is O(corpus
    # bytes) network — the regex loses only when tokenize stops being
    # codegen'd (see SCALE.md regime notes). The corpus stats DO merge
    # into one agg over the dl branch (count + sum in one pass instead of
    # a crossJoin of two single-agg branches).
    tok = docs.select(
        F.col(id_col), F.explode(tokens(normalize_text(F.col(text_col)))).alias("term")
    ).filter(F.col("term").isin(all_terms))
    postings = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dl = docs.select(
        F.col(id_col),
        F.size(tokens(normalize_text(F.col(text_col)))).cast("bigint").alias("dl"),
    )
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    df_t = postings.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))

    # odds = (N - df + 0.5) / (df + 0.5); idf = ln(1 + odds) or sqrt(odds)
    odds = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    idf = F.log(F.lit(1.0) + odds) if idf_mode == "ln" else F.sqrt(odds)
    # saturation = tf*(k1+1) / (tf + k1*(1 - b + b*(dl/avgdl))); avgdl as
    # the single exact division sum_dl/n_docs, association pinned to match
    # the oracle chain term-for-term
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    satur = (F.col("tf") * F.lit(K1 + 1)) / (
        F.col("tf")
        + F.lit(K1) * (F.lit(1.0) - F.lit(B) + F.lit(B) * (F.col("dl") / avgdl))
    )
    contrib = idf * satur

    matched = (
        postings.join(F.broadcast(qdf), "term")
        .join(dl, id_col)
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
    )
    if idf_mode == "rsj_sqrt":
        # integer micro-unit contributions -> order-independent sum
        scored = matched.groupBy("query_id", id_col).agg(
            F.sum(F.floor(contrib * SCALE).cast("bigint")).alias("score_q")
        )
        score_col = "score_q"
    else:
        scored = matched.groupBy("query_id", id_col).agg(
            F.round(F.sum(contrib), 6).alias("score")
        )
        score_col = "score"
    # Final top-k: queries are FEW and candidates per query are unbounded
    # (every doc sharing a term) — the hot-group shape where a plain
    # per-query rank window funnels one query's whole candidate set into
    # one task. Threshold-pruned top-k keeps per-task state bounded; the
    # negated score makes (score desc, id asc) a single ascending key.
    ranked = grouped_topk_threshold(
        scored.withColumn("_neg", -F.col(score_col)),
        "query_id",
        ["_neg", id_col],
        k,
    )
    return ranked.select(
        "query_id", id_col, score_col, F.col("rk").cast("bigint").alias("rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of N retrieval
    system rankings into one hybrid ranking per query — the standard way
    a RAG stack combines lexical (BM25) and dense (embedding-cosine)
    retrieval without score calibration.

    Each input frame carries (query_id, ``id_col``, ``rank_col``); a
    document's fused score is sum over systems of 1e6 div (c + rank) —
    INTEGER division of integer literals, so the sum is order-independent
    and engine-portable (no float reciprocal). Docs absent from a system
    simply contribute nothing (union semantics — no outer join needed).

    Scale shape: the inputs are already top-k-per-query (bounded), so the
    union + one groupBy is tiny; the final top-k still routes through the
    threshold-pruned primitive so the shape stays safe even when callers
    fuse unbounded candidate lists.
    """
    if not rankings:
        raise ValueError("rrf_fuse: rankings must be a non-empty list")
    contribs = None
    for r in rankings:
        part = r.select(
            "query_id",
            F.col(id_col),
            F.expr(f"1000000 div ({c} + {rank_col})").cast("bigint").alias("_c"),
        )
        contribs = part if contribs is None else contribs.unionByName(part)
    fused = contribs.groupBy("query_id", id_col).agg(
        F.sum("_c").cast("bigint").alias("rrf_q")
    )
    ranked = grouped_topk_threshold(
        fused.withColumn("_neg", -F.col("rrf_q")),
        "query_id",
        ["_neg", id_col],
        k,
    )
    return ranked.select(
        "query_id", id_col, "rrf_q", F.col("rk").cast("bigint").alias("rank")
    )
