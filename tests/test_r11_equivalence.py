"""Round-11 optimization equivalence pins.

Each optimization this round restructured an operator's internals while
claiming identical results; these tests pin each claim against the
pre-optimization form (recomposed from the untouched standalone
operators) or against the distributed shape behind its conf gate —
the same conf-toggle discipline as tests/test_jaccard_property.py.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from conftest import forced_distributed

from lichess_event_stream_watcher_spark import testdata
from lichess_event_stream_watcher_spark.operators import dedup as D
from lichess_event_stream_watcher_spark.operators import text as X


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _bag(df):
    """Order-free row multiset that tolerates null cells (None does not
    sort against ints)."""
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def _via_parquet(df, tmp_path, name):
    """Round-trip through parquet so the plan carries file-size statistics
    — the small-corpus gates read Catalyst's size estimate, and a
    Python-created LogicalRDD reports Long.MaxValue (gate-reject), which
    would bypass the guards these tests exercise."""
    p = str(tmp_path / name)
    df.write.mode("overwrite").parquet(p)
    return df.sparkSession.read.parquet(p)


EDGE_DOCS = [
    # (doc_id, text, lang, source, n_chars) — quality-gate edge cases
    (1, "the quick brown fox " * 20, "en", "web", 400),  # repetitive bigram
    (2, "short doc", "en", "web", 9),  # < 50 tokens
    (3, None, "en", "web", 0),  # null text
    (4, "", "en", "web", 0),  # empty text
    (5, "zzz qqq xxx " * 30, "und", "web", 360),  # no language markers
    (6, "the of a " * 40, "en", "web", 360),  # lexicon-heavy, dup-heavy
    (7, " ".join(f"w{i} the of a and to in is it" for i in range(12)), "en", "web", 0),
]


def _gate_frame(spark):
    return spark.createDataFrame(
        EDGE_DOCS, "doc_id bigint, text string, lang string, source string, n_chars int"
    )


def test_quality_gate_filter_matches_three_op_gate(spark, sf_dir):
    """quality_gate_filter (the round-11 fused two-scan gate wired into
    pipeline.curate_corpus) must keep exactly the rows the previous
    three-operator composition kept — on the fixture corpus AND on a
    crafted frame hitting every branch (null/empty text, short docs,
    repetitive docs, off-language docs, lexicon-poor docs)."""
    for df in (testdata.load(spark, sf_dir, "documents"), _gate_frame(spark)):
        rep = X.repetition_profile(df).select(
            "doc_id", F.col("keep").alias("_keep_rep")
        )
        lex = X.lexicon_coverage(df).select(
            F.col("id").alias("doc_id"), F.col("keep").alias("_keep_lex")
        )
        old = (
            df.join(rep, "doc_id", "left")
            .join(lex, "doc_id")
            .filter(
                F.coalesce("_keep_rep", F.lit(False))
                & F.col("_keep_lex")
                & X.lang_known(F.col("text"))
            )
            .drop("_keep_rep", "_keep_lex")
        )
        assert _rows(X.quality_gate_filter(df)) == _rows(old)


def test_cost_census_driver_tier_matches_distributed(spark, sf_dir):
    """dedup_cost_census's round-11 single-collect tier must emit the
    identical three rows as the distributed census (conf-toggled off via
    lesw.smallCorpusCacheBytes=0 — the 100 TB shape)."""
    docs = testdata.load(spark, sf_dir, "documents")
    tiered = _rows(D.dedup_cost_census(docs, threshold=0.5, k=16, bands=4, n=2))
    with forced_distributed(spark):
        dist = _rows(D.dedup_cost_census(docs, threshold=0.5, k=16, bands=4, n=2))
    assert tiered == dist


def test_cost_census_tier_rejects_null_ids(spark, tmp_path):
    """Null ids reject the census collect tier (the factorize/CSR machinery
    would split them); the distributed shape must serve the result."""
    df = _via_parquet(
        spark.createDataFrame(
            [(1, "a b c d e"), (None, "a b c d e"), (None, "x y z w v")],
            "doc_id bigint, text string",
        ),
        tmp_path,
        "census_nulls",
    )
    small = D._cost_census_pdf(df, 0.5, 16, 4, 2, "text", "doc_id")
    assert small is None
    rows = _rows(D.dedup_cost_census(df, threshold=0.5, k=16, bands=4, n=2))
    assert len(rows) == 3  # distributed census still answers
    # and a null-free parquet input DOES take the tier
    clean = _via_parquet(
        spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c x y")], "doc_id bigint, text string"
        ),
        tmp_path,
        "census_clean",
    )
    assert D._cost_census_pdf(clean, 0.5, 16, 4, 2, "text", "doc_id") is not None


def _charlm_twin(texts, quant=1_000_000_000):
    """Pure-python replay of the pre-round-11 charlm chain: code-point
    bigrams, add-one context smoothing, the exact floor arithmetic."""
    model: dict[str, int] = {}
    for t in texts:
        t = t or ""
        for i in range(len(t) - 1):
            bg = t[i : i + 2]
            model[bg] = model.get(bg, 0) + 1
    ctx: dict[str, int] = {}
    for bg, c in model.items():
        ctx[bg[0]] = ctx.get(bg[0], 0) + c
    v = len(ctx)
    prob = {
        bg: math.floor(float(c + 1) * float(quant) / float(ctx[bg[0]] + v))
        for bg, c in model.items()
    }
    out = []
    for t in texts:
        t = t or ""
        n = max(len(t) - 1, 0)
        s = sum(prob[t[i : i + 2]] for i in range(n))
        avg = 0 if n == 0 else math.floor(float(s) / float(n))
        ppl = 0 if avg == 0 else math.floor(float(quant) / float(avg))
        out.append((n, avg, ppl))
    return out


def test_charlm_arrow_rewrite_matches_python_twin(spark):
    """The round-11 two-Arrow-pass charlm_score must reproduce the exact
    integer outputs of the original expression chain (python twin replays
    the identical floor arithmetic), including astral-plane code points
    (the utf-32 bigram construction counts code points like Spark's
    substring did), empty/null docs, and single-char docs."""
    texts = [
        "hello world",
        "aaa",
        "a",
        "",
        None,
        "the cat sat on the mat",
        "naïve café",  # latin-1 supplement
        "\U0001f600\U0001f601 emoji \U0001f600x",  # astral plane
    ]
    # normalize_text is applied by charlm_score; pre-normalize the twin's
    # inputs identically (lower+trim+collapse whitespace)
    import re

    normed = [
        None if t is None else re.sub(r"\s+", " ", t.strip().lower()) for t in texts
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {
        r["id"]: (r["n_bigrams"], r["avg_prob_q"], r["ppl_proxy"])
        for r in X.charlm_score(df).collect()
    }
    want = dict(enumerate(_charlm_twin(normed)))
    assert got == want


def test_components_pdf_rejects_null_endpoints(spark, tmp_path):
    """_components_pdf must bail (return None -> distributed fixpoint) when
    node or pair endpoints contain nulls: pd.factorize codes null as -1
    and rank[-1] would silently merge null nodes into an arbitrary
    component (round-10 ADVICE)."""
    nodes = _via_parquet(
        spark.createDataFrame([(1,), (2,), (None,)], "id bigint"), tmp_path, "n1"
    )
    pairs = _via_parquet(
        spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint"), tmp_path, "p1"
    )
    assert D._components_pdf(nodes, pairs, "id") is None
    nodes2 = _via_parquet(
        spark.createDataFrame([(1,), (2,)], "id bigint"), tmp_path, "n2"
    )
    pairs2 = _via_parquet(
        spark.createDataFrame([(1, None)], "id_a bigint, id_b bigint"), tmp_path, "p2"
    )
    assert D._components_pdf(nodes2, pairs2, "id") is None
    # and a clean input still takes the driver tier
    ok = D._components_pdf(nodes2, pairs, "id")
    assert ok is not None


def test_components_pdf_collect_is_capped(spark):
    """The round-11 limit(cap+1) probe: an input past the row caps falls
    back to the distributed fixpoint BEFORE a full collect, even though
    Catalyst's estimate admitted the gate."""
    nodes = spark.range(0, 50).select(F.col("id"))
    pairs = spark.createDataFrame([(0, 1)], "id_a bigint, id_b bigint")
    assert D._components_pdf(nodes, pairs, "id", max_nodes=10) is None


def test_lsh_sig_tier_rejects_null_ids(spark, tmp_path):
    """_lsh_sig_rows_small must gate-reject null ids (NaN != NaN would
    split one null signature group into many), while a null-free parquet
    input takes the tier."""
    df = _via_parquet(
        spark.createDataFrame(
            [(1, "a b c d"), (None, "a b c d")], "doc_id bigint, text string"
        ),
        tmp_path,
        "sig_nulls",
    )
    assert D._lsh_sig_rows_small(df, 16, 2, "text", "doc_id") is None
    clean = _via_parquet(
        spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string"),
        tmp_path,
        "sig_clean",
    )
    assert D._lsh_sig_rows_small(clean, 16, 2, "text", "doc_id") is not None


@pytest.mark.parametrize("threshold", [0.3, 0.8])
def test_jaccard_between_rejects_null_ids(spark, threshold, tmp_path):
    """jaccard_pairs_between's dense tier bails to the sparse join when
    either side carries null ids; the result must be EXACTLY what the
    distributed shape (dense gate disabled) computes — null docs are
    never folded into a fabricated CSR identity."""
    old = _via_parquet(
        spark.createDataFrame(
            [(10, "a b c d e f"), (None, "a b c d e f")],
            "doc_id bigint, text string",
        ),
        tmp_path,
        "jb_old",
    )
    new = _via_parquet(
        spark.createDataFrame([(1, "a b c d e f")], "doc_id bigint, text string"),
        tmp_path,
        "jb_new",
    )
    got = _bag(D.jaccard_pairs_between(new, old, threshold=threshold))
    want = _bag(
        D.jaccard_pairs_between(new, old, threshold=threshold, dense_vocab_limit=0)
    )
    assert got == want


def test_nearest_cells_tier_matches_expression(spark, sf_dir):
    """The float nearest_cells driver tier must reproduce the scoring
    expression's (id, cent_id, cell_rank) EXACTLY — including round-6
    tie-breaks — on the live corpus against real trained centroids, for
    n=1 and n=2 probes (conf toggle forces the expression path)."""
    from lichess_event_stream_watcher_spark.operators import similarity as S

    emb = testdata.load(spark, sf_dir, "embeddings")
    cents = S.kmeans_fit(emb, k=8, iters=2)
    for n in (1, 2):
        tier = _rows(S.nearest_cells(emb, cents, n).select("vec_id", "cent_id", "cell_rank"))
        with forced_distributed(spark):
            expr = _rows(
                S.nearest_cells(emb, cents, n).select("vec_id", "cent_id", "cell_rank")
            )
        assert tier == expr
    # vectors must round-trip bit-exactly through the tier's Arrow path
    got = {r[0]: list(r[1]) for r in S.nearest_cells(emb, cents, 1).select("vec_id", "embedding").collect()}
    want = {r[0]: list(r[1]) for r in emb.select("vec_id", "embedding").collect()}
    assert got == want


def test_round6_half_up_matches_spark_round():
    """_round6_half_up vs Spark's round(double, 6) on adversarial values:
    exact .5 boundaries representable in binary, near-boundary values a
    float ulp away, negatives, and a dense random sweep."""
    import numpy as np
    from lichess_event_stream_watcher_spark.operators.similarity import _round6_half_up

    rng = np.random.RandomState(7)
    vals = list(rng.uniform(-1, 1, 20000))
    # exactly-representable 7th-decimal .5 boundaries (x.xxxxxx5 with a
    # finite binary expansion), and ulp-neighbours of decimal boundaries
    vals += [0.1234375, -0.1234375, 0.0000005, -0.0000005, 1.0000005]
    for b in [0.1234565, 0.9999995, 0.0000015]:
        vals += [np.nextafter(b, -2.0), b, np.nextafter(b, 2.0)]
    from decimal import ROUND_HALF_UP, Decimal

    for x in vals:
        x = float(x)
        want = float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))
        assert _round6_half_up(x) == want, x


def test_kmeans_quantized_tier_matches_distributed(spark, sf_dir):
    """The one-collect quantized Lloyd tier must reproduce the distributed
    trajectory bit-for-bit: centroids after every iteration count and the
    final cell assignment (conf toggle forces the distributed shape)."""
    from lichess_event_stream_watcher_spark.operators import similarity as S

    emb = testdata.load(spark, sf_dir, "embeddings")
    for iters in (1, 3):
        tier_c = S.kmeans_fit_quantized(emb, k=8, iters=iters)
        with forced_distributed(spark):
            dist_c = S.kmeans_fit_quantized(emb, k=8, iters=iters)
        assert tier_c == dist_c
    tier_a = _rows(S.kmeans_cells_quantized(emb, tier_c))
    with forced_distributed(spark):
        dist_a = _rows(S.kmeans_cells_quantized(emb, tier_c))
    assert tier_a == dist_a


def test_lr_fit_tier_matches_distributed(spark, sf_dir):
    """The one-collect quantized-GD tier must reproduce the distributed
    weight trajectory exactly, at 1 and 6 iterations."""
    from lichess_event_stream_watcher_spark.operators import classifier as C

    docs = testdata.load(spark, sf_dir, "documents")
    xs = C.doc_features(F.col("text"), F.col("n_chars"))
    feats = docs.select(
        "source",
        (F.col("lang") == "en").cast("bigint").alias("y"),
        *[x.alias(f"x{j}") for j, x in enumerate(xs)],
    )
    for iters in (1, 6):
        tier_w = C.lr_fit_quantized(feats, iters=iters)
        with forced_distributed(spark):
            dist_w = C.lr_fit_quantized(feats, iters=iters)
        assert tier_w == dist_w


def test_power_iteration_tier_matches_distributed(spark, sf_dir):
    """The one-collect quantized power-iteration tier must reproduce the
    distributed direction trajectory exactly, at 1 and 4 rounds."""
    from lichess_event_stream_watcher_spark.operators import pca as P

    emb = testdata.load(spark, sf_dir, "embeddings")
    for iters in (1, 4):
        tier_w = P.power_iteration_quantized(emb, iters=iters, dim=64)
        with forced_distributed(spark):
            dist_w = P.power_iteration_quantized(emb, iters=iters, dim=64)
        assert tier_w == dist_w


def test_bm25_tier_matches_distributed(spark, sf_dir):
    """The one-collect bm25 rsj_sqrt tier must reproduce the distributed
    postings/join/topk chain exactly (scores are order-free int64 sums of
    identically-associated float64 contributions)."""
    from lichess_event_stream_watcher_spark.operators.retrieval import bm25_topk

    docs = testdata.load(spark, sf_dir, "documents")
    qrows = docs.filter(F.col("doc_id").isin([0, 1, 2])).select("doc_id", "text").collect()
    queries = {int(r.doc_id): " ".join((r.text or "").strip().lower().split()[:8]) for r in qrows}
    tier = _rows(bm25_topk(docs, queries, k=20, idf_mode="rsj_sqrt"))
    with forced_distributed(spark):
        dist = _rows(bm25_topk(docs, queries, k=20, idf_mode="rsj_sqrt"))
    assert tier == dist
