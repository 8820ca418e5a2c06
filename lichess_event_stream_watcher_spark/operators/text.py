"""Text-analysis operators for large-scale training-data pipelines.

All pure Catalyst expressions (no UDFs): language-ID via marker-token
occurrence scoring, quality scoring from length/punctuation/stopword ratios,
token counting (whitespace + BPE-ish regex), and document fingerprinting
(full-text and bag-of-words). Each has an exact DuckDB-oracle twin in
queries_pipeline.py.

Scale: every operator is a map-side projection over ``documents`` — no
shuffle, no state; 100 TB of text is embarrassingly parallel here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"
BPE_ISH_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# marker tokens per language for the n-gram-ish heuristic language ID
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " a ", " of "],
    "de": [" der ", " die ", " und "],
    "es": [" el ", " la ", " los "],
    "fr": [" le ", " les ", " et "],
}


def normalize_text(col: Column) -> Column:
    """lower + collapse runs of whitespace to single spaces + trim. The
    collapse runs first, so tab- or newline-padded copies normalise like
    space-padded ones (trim strips spaces only)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def normalize_text_sql(expr: str) -> str:
    """DuckDB twin of ``normalize_text`` for oracle SQL, in the same order."""
    return f"trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), TOKEN_SPLIT_RE)


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("bigint")


def distinct_token_count(col: Column) -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("bigint")


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: runs of letters, runs of digits, or single
    punctuation — a deterministic stand-in for a BPE tokenizer's piece
    count."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(BPE_ISH_RE), F.lit(0))).cast("bigint")


def fingerprint(col: Column) -> Column:
    """Full-text content fingerprint: md5 over normalized text."""
    return F.md5(normalize_text(col))


def bow_fingerprint(col: Column) -> Column:
    """Bag-of-words fingerprint: md5 over the sorted distinct token set —
    catches shuffled/duplicated-token copies that the exact hash misses."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(normalize_text(col)))), " "))


def _occurrences(padded: Column, marker: str) -> Column:
    """Count non-overlapping marker occurrences via the length-delta trick
    (identical semantics in Spark and DuckDB replace())."""
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(marker), F.lit(""))))
        / F.lit(len(marker))
    ).cast("bigint")


def lang_scores(col: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), normalize_text(col), F.lit(" "))
    return {
        lang: sum((_occurrences(padded, m) for m in markers), F.lit(0).cast("bigint"))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Predict language as argmax of marker scores with fixed precedence
    (en > de > es > fr); no marker hit -> 'und'.

    Form discipline (rounds 6-7, measured both ways): this is the plain
    when-chain. It textually repeats the marker-score subexpressions
    (~120 copies of the padded/normalize_text block across the nested
    CaseWhen), but in a PROJECTION whole-stage codegen's common-
    subexpression elimination binds each distinct subexpression once, so
    the generated method stays small and fully codegen'd — round 5
    measured ``analyze()`` at 0.95 s on this form. Round 6 swapped in a
    bound-once array<struct> + ``transform`` argmax to fix a janino 64 KB
    blowup in the fused curation gate; that fixed the gate but regressed
    every standalone consumer 1.5-3.1x, because ``ArrayTransform`` is a
    ``CodegenFallback`` expression: wherever it appears the whole subtree
    — including the regex-heavy score block — evaluates interpreted.
    Hence the split: projections use THIS form (CSE does the binding);
    filter contexts that cannot rely on CSE use :func:`lang_known`
    (gates) or :func:`lang_id_bound` (when the actual label is needed
    inside a fused filter)."""
    s = lang_scores(col)
    best = F.greatest(*s.values())
    out = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        out = F.when((s[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def lang_id_bound(col: Column) -> Column:
    """:func:`lang_id` with the four scores bound ONCE as a 1-element
    array<struct> and the argmax inside a ``transform`` lambda.

    Use ONLY inside fused FILTER stages where the when-chain's ~120
    textual copies of the score block would blow janino's 64 KB method
    limit (FilterExec predicates get no codegen subexpression
    elimination, unlike projections). The trade: ``ArrayTransform`` is
    ``CodegenFallback``, so this subtree evaluates interpreted — each
    score exactly once per row, which round 6 measured as 13.7 -> 4.0 s
    on the fused gate vs the fully-interpreted stage the blowup caused.
    In a projection this form is strictly worse than :func:`lang_id`
    (3.1x on text_profile, round 6) — never use it there."""
    s = lang_scores(col)
    packed = F.array(F.struct(*[v.alias(k) for k, v in s.items()]))

    def pick(st: Column) -> Column:
        best = F.greatest(*[st[k] for k in LANG_MARKERS])
        out = F.lit("und")
        for lang in reversed(list(LANG_MARKERS)):
            out = F.when((st[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
        return out

    return F.element_at(F.transform(packed, pick), 1)


def lang_known(col: Column) -> Column:
    """``lang_id(col) != 'und'`` without the argmax: every score is a
    non-negative sum, so "best > 0" is exactly "any marker occurs" — one
    flat bigint sum over the 12 marker occurrences, > 0. No when-chain,
    no higher-order function: ~24 padded copies (vs the when-chain's
    ~120), small enough to codegen inside a fused filter, and zero
    interpreted subtrees. This is the form quality GATES should filter
    on; they never need the label itself."""
    s = lang_scores(col)
    total = sum(s.values(), F.lit(0).cast("bigint"))
    return total > F.lit(0)


def punct_count(col: Column) -> Column:
    return (
        F.length(col) - F.length(F.regexp_replace(col, r"[.,!?;:]", ""))
    ).cast("bigint")


def quality_score_q(col: Column) -> Column:
    """``quality_score`` in integer ten-thousandths (bigint). Consumers
    that ORDER or GROUP by quality must use this form: re-deriving the
    integer from the float score (score * 10000) walks the floor back
    down one ulp whenever the quantized value is not a dyadic rational
    (floor(v)/1e4*1e4 < floor(v) in doubles) — an off-by-one that breaks
    cross-engine argmax ties."""
    n = token_count(col).cast("double")
    nd = distinct_token_count(col).cast("double")
    en = lang_scores(col)["en"].cast("double")
    score = (
        F.lit(0.4) * F.least(n, F.lit(100.0)) / F.lit(100.0)
        + F.lit(0.3) * nd / n
        + F.lit(0.3) * F.least(en * F.lit(5.0) / n, F.lit(1.0))
    )
    return F.floor(score * F.lit(10000.0)).cast("bigint")


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality score: 0.4*length saturation +
    0.3*lexical diversity + 0.3*stopword-rate saturation.

    Quantized via floor at 1e-4 (NOT round): the score can land exactly on a
    half-ulp boundary where HALF_UP (Spark) and C rounding (DuckDB) diverge;
    floor of the identical double is engine-stable."""
    return quality_score_q(col) / F.lit(10000.0)


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text profile: all metrics as extra columns."""
    c = F.col(text_col)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        distinct_token_count(c).alias("n_distinct_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        punct_count(c).alias("n_punct"),
        fingerprint(c).alias("fingerprint"),
        bow_fingerprint(c).alias("bow_fingerprint"),
        lang_id(c).alias("lang_pred"),
        quality_score(c).alias("quality"),
    )


def mean_token_length(col: Column) -> Column:
    """Mean characters per token, floor-quantized at 1e-4 (engine-stable;
    see quality_score)."""
    tk = tokens(normalize_text(col))
    total = F.aggregate(tk, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
    return F.floor(total.cast("double") / F.size(tk).cast("double") * F.lit(10000.0)) / F.lit(
        10000.0
    )


def frac_dup_tokens(col: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token — the Gopher
    'repetition' family's cheapest signal; floor-quantized at 1e-4."""
    tk = tokens(normalize_text(col))
    n = F.size(tk).cast("double")
    nd = F.size(F.array_distinct(tk)).cast("double")
    return F.floor((n - nd) / n * F.lit(10000.0)) / F.lit(10000.0)


def repetition_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    short_doc_tokens: int = 50,
    top_bigram_frac: float = 0.08,
    dup_token_frac: float = 0.8,
) -> DataFrame:
    """Gopher-style repetition signals per document + a keep/drop verdict.

    Map-side: token count, mean token length, duplicate-token fraction.
    Distributed: the most-frequent-bigram share (top bigram count / total
    bigrams) via a doc-local double aggregation — bigrams shuffle on
    (doc_id, bigram) then (doc_id), both keys doc-scoped so 100 TB
    distributes evenly (no global hot key can form). The map-side metrics
    ride the shuffle as grouping keys (functionally dependent on doc_id) so
    no join is ever needed. Same explode_outer + below-Exchange token
    materialization as dedup.shingles (see its docstring for why).

    Documents with fewer than two tokens have no bigrams and drop out.
    Output: (doc_id, n_tokens, mean_tok_len, frac_dup_tokens, n_bigrams,
    top_bigram_n, frac_top_bigram, keep).
    """
    from .util import spread

    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(normalize_text(F.col(text_col))).alias("_tk"),
    )
    base = spread(base)
    tk = F.col("_tk")
    n = F.size(tk).cast("bigint")
    nd = F.size(F.array_distinct(tk)).cast("bigint")
    total_len = F.aggregate(tk, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
    mean_len = F.floor(total_len.cast("double") / n.cast("double") * F.lit(10000.0)) / F.lit(
        10000.0
    )
    frac_dup = F.floor((n - nd).cast("double") / n.cast("double") * F.lit(10000.0)) / F.lit(
        10000.0
    )
    idx = F.when(F.size(tk) >= 2, F.sequence(F.lit(0), F.size(tk) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.array_join(F.slice(tk, i + 1, 2), " "))
    keys = ["doc_id", "n_tokens", "mean_tok_len", "frac_dup_tokens"]
    # (Round-10 negative result, kept so it is not retried: computing the
    # top-bigram count MAP-SIDE as the longest equal-run of the sorted
    # per-doc bigram array — zero shuffle — measured 1.7 -> 7.8 s med in
    # a 5-draw interleaved A/B at sf0.1: the struct-state aggregate() HOF
    # is CodegenFallback-interpreted and re-evaluates the run expression
    # per element, while the exploded double aggregation below is
    # whole-stage-codegen'd with map-side partials on doc-scoped keys —
    # the shuffles it pays are small and scale-safe.)
    exploded = (
        base.select(
            "doc_id",
            n.alias("n_tokens"),
            mean_len.alias("mean_tok_len"),
            frac_dup.alias("frac_dup_tokens"),
            F.explode_outer(grams).alias("bigram"),
        )
        .filter(F.col("bigram").isNotNull())
    )
    agg = (
        exploded.groupBy(*keys, "bigram")
        .agg(F.count("*").alias("bn"))
        .groupBy(*keys)
        .agg(F.max("bn").alias("top_bigram_n"), F.sum("bn").alias("n_bigrams"))
    )
    frac_top = F.floor(
        F.col("top_bigram_n").cast("double") / F.col("n_bigrams").cast("double") * F.lit(1000000.0)
    ) / F.lit(1000000.0)
    return agg.select(
        *keys,
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("top_bigram_n").cast("bigint").alias("top_bigram_n"),
        frac_top.alias("frac_top_bigram"),
        (
            (F.col("n_tokens") >= short_doc_tokens)
            & (frac_top <= top_bigram_frac)
            & (F.col("frac_dup_tokens") <= dup_token_frac)
        ).alias("keep"),
    )


def lexicon_coverage(
    df: DataFrame,
    lexicon_size: int = 1000,
    min_ratio: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-lexicon coverage score — the C4/Gopher-style "does this doc
    speak the corpus's language" quality signal. The lexicon is the corpus's
    ``lexicon_size`` most frequent tokens (ties broken by token text, so the
    set is deterministic); each doc scores the fraction of its token
    OCCURRENCES covered by that lexicon. Boilerplate, code dumps, and
    off-language docs fall out of coverage.

    Two aggregations, both partial-agg friendly: the token-frequency build
    (one shuffle on token; the top-k is TakeOrderedAndProject — per-partition
    heaps, never a single-task global sort of the vocabulary) and the
    per-doc coverage count (one shuffle on id, with the lexicon joined as a
    broadcast set — at any corpus scale the lexicon is `lexicon_size` rows
    by construction). All-integer arithmetic until the one floor-quantized
    division, so the DuckDB oracle hashes bit-identically.

    EVERY input document gets a row: docs that produce no tokens at all
    (null text) come back via a left join with the explicit convention
    n_tokens = 0, n_in_lex = 0, lex_ratio = 0.0, keep = false — a quality
    gate that silently skips a document is indistinguishable from one that
    passed it.

    Output: (id, n_tokens, n_in_lex, lex_ratio, keep).
    """
    tok = (
        df.select(F.col(id_col).alias("id"), tokens(normalize_text(F.col(text_col))).alias("_tk"))
        .select("id", F.explode_outer("_tk").alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    # (Round-10 negative result, kept so it is not retried: a stats-gated
    # persist of ``tok`` — it feeds the frequency and coverage branches —
    # measured 1.00 -> 1.32 s med standalone and neutral inside
    # curation_gate in 5-draw interleaved A/Bs at sf0.1: the unigram
    # explode is cheap enough that the cache fill + scan costs more than
    # the second tokenizer evaluation it saves, unlike the n-gram shingle
    # relations where the same persist paid off.)
    freq = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    lex = freq.orderBy(F.desc("cnt"), F.asc("tok")).limit(lexicon_size).select("tok")
    cov = (
        tok.join(F.broadcast(lex).withColumn("_hit", F.lit(1)), "tok", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_in_lex"),
        )
    )
    ids = df.select(F.col(id_col).alias("id"))
    full = ids.join(cov, "id", "left")
    n_tok = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint")
    n_lex = F.coalesce(F.col("n_in_lex"), F.lit(0)).cast("bigint")
    ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.floor(n_lex.cast("double") / n_tok.cast("double") * F.lit(1000000.0))
        / F.lit(1000000.0)
    )
    return full.select(
        "id",
        n_tok.alias("n_tokens"),
        n_lex.alias("n_in_lex"),
        ratio.alias("lex_ratio"),
        ((n_tok > 0) & (ratio >= min_ratio)).alias("keep"),
    )


def quality_gate_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    short_doc_tokens: int = 50,
    top_bigram_frac: float = 0.08,
    dup_token_frac: float = 0.8,
    lexicon_size: int = 1000,
    min_ratio: float = 0.8,
) -> DataFrame:
    """FUSED quality gate: the rows of ``df`` whose documents pass
    repetition AND lexicon-coverage AND language identification — by
    construction the exact rows ``pipeline.curate_corpus``'s gate stage
    previously kept via three independent signal operators (round 11,
    guide §1.2; VERDICT r10 task #5).

    Equivalence argument, signal by signal (the three standalone
    operators — ``repetition_profile``, ``lexicon_coverage``,
    ``lang_known`` — are untouched and keep their own oracled queries):

    - **tokens**: both passes here project the IDENTICAL Spark
      expression ``tokens(normalize_text(text))`` the standalone
      operators evaluate, so the per-doc token array is the same array.
    - **repetition keep** = ``n >= short_doc_tokens AND
      floor(top/nb*1e6)/1e6 <= top_bigram_frac AND
      floor((n-nd)/n*1e4)/1e4 <= dup_token_frac``. The standalone form
      computes top/nb via a doc-scoped double aggregation — a per-doc
      quantity (the most frequent ADJACENT bigram within the doc), so a
      doc-local count is the same integer; the float steps replay the
      identical cast/divide/multiply/floor sequence in float64, bit for
      bit. Docs with < 2 tokens produce no bigram rows in the standalone
      form, drop out of its output, and gate to keep=false through the
      pipeline's ``coalesce(_keep_rep, false)`` — here they verdict
      false directly.
    - **lexicon keep**: the lexicon is built by the same frequency
      aggregation + (cnt DESC, tok ASC) top-k over the same token
      relation, so it is the same deterministic token set; per-doc
      coverage counts the same occurrences, and the ratio replays the
      identical floor arithmetic. Zero-token docs verdict false exactly
      like the standalone n_tokens=0 convention.
    - **language**: the SAME ``lang_known`` Spark column, evaluated once
      in the base projection.

    Physical shape: TWO corpus scans (the lexicon frequency pass and the
    verdict pass), ZERO shuffles and ZERO joins, instead of the previous
    three tokenizations plus the repetition double-shuffle, the coverage
    shuffle and two id-keyed joins back to the corpus. The verdict is a
    pure function of (doc tokens, lexicon, lang flag) — the lexicon is
    the only corpus-level dependency and is ``lexicon_size`` rows by
    construction at any corpus size, so it collects to the driver exactly
    like the standalone broadcast — which is why the gate can be a
    MAP-SIDE FILTER (one Arrow block per partition, guide §4.2): the
    kept rows stream straight out with no id-keyed join back, the shape
    that at 100 TB replaces a corpus-sized shuffle with nothing. The
    per-doc bigram top-count is doc-LOCAL here, so nothing doc-keyed
    ever shuffles.

    Output: the kept rows of ``df``, original schema and values (the
    non-verdict columns pass through the Arrow block untouched).
    """
    import numpy as np
    import pandas as pd

    from .util import spread

    orig_cols = [f.name for f in df.schema.fields]
    base = spread(
        df.select(
            "*",
            tokens(normalize_text(F.col(text_col))).alias("_tk"),
            lang_known(F.col(text_col)).alias("_lang_ok"),
        )
    )
    lex_rows = (
        base.select(F.explode_outer("_tk").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(lexicon_size)
        .collect()
    )
    lex_set = frozenset(r["tok"] for r in lex_rows)

    def _keep(batches):
        for pdf in batches:
            mask = np.zeros(len(pdf), dtype=bool)
            for row, (tk, lang_ok) in enumerate(zip(pdf["_tk"], pdf["_lang_ok"])):
                if tk is None or not lang_ok:
                    continue
                toks = list(tk)
                n = len(toks)
                if n < max(short_doc_tokens, 1) or n < 2:
                    continue
                nd = len(set(toks))
                # identical float64 op order as repetition_profile
                frac_dup = np.floor((n - nd) / n * 10000.0) / 10000.0
                if not frac_dup <= dup_token_frac:
                    continue
                counts: dict[str, int] = {}
                prev = toks[0]
                for t in toks[1:]:
                    bg = prev + " " + t
                    counts[bg] = counts.get(bg, 0) + 1
                    prev = t
                nb = n - 1
                top = max(counts.values())
                frac_top = np.floor(top / nb * 1000000.0) / 1000000.0
                if not frac_top <= top_bigram_frac:
                    continue
                n_in_lex = sum(1 for t in toks if t in lex_set)
                ratio = np.floor(n_in_lex / n * 1000000.0) / 1000000.0
                if ratio >= min_ratio:
                    mask[row] = True
            yield pd.DataFrame(pdf.loc[mask, orig_cols])

    return base.mapInPandas(_keep, df.schema)


def char_bigrams(col: Column) -> Column:
    """All overlapping character bigrams of the normalized text, in order.

    PERF: the normalize regex is inlined into the per-position transform
    lambda, so Catalyst re-evaluates it once PER BIGRAM — O(len^2) regex
    work per row. Fine for short strings (usernames, labels); for
    documents, materialize ``normalize_text`` in a prior projection
    behind an exchange and transform over the column instead (see
    charlm_score)."""
    t = normalize_text(col)
    idx = F.when(
        F.length(t) >= 2, F.sequence(F.lit(1), F.length(t) - 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.substring(t, i, 2))


def charlm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quant: int = 1_000_000_000,
) -> DataFrame:
    """Char-bigram language-model likelihood score — the KenLM/CCNet-style
    "does this look like the corpus" quality signal, with the model trained
    on the corpus itself in the same pass.

    Model: add-one-smoothed conditional probability p(c2 | c1) =
    (count(c1c2) + 1) / (count(c1 followed by anything) + V), with V = the
    corpus's distinct leading-char count. Each bigram's probability is
    floor-quantized to integer parts-per-``quant`` BEFORE summation, so
    per-doc totals are integer sums — order-independent, engine-portable,
    no transcendental functions anywhere (a log-space score would hang the
    hash check on cross-libm ln() ulps).

    Scale shape: bigram explosion is map-side; the model build is one
    shuffle on bigram with partial aggregation (the model itself is bounded
    by charset^2 rows — broadcastable at ANY corpus size, the whole reason
    char-level models are the first-pass web filter); scoring joins the
    broadcast model back to per-doc bigram counts (one shuffle on doc id).
    Docs shorter than 2 chars get the explicit zero row (n_bigrams = 0,
    score 0) — a quality gate must verdict every document.

    Output: (id, n_bigrams, avg_prob_q, ppl_proxy) where avg_prob_q is the
    mean quantized bigram probability (higher = more corpus-like) and
    ppl_proxy = quant / avg_prob_q (rounded down; an inverse-likelihood
    stand-in for perplexity)."""
    # Round-11 rewrite (guide §4.2; VERDICT r10 task #4). The previous
    # form exploded bigrams through an interpreted transform() HOF
    # (HigherOrderFunctions are CodegenFallback) and consumed the
    # (id, bg, n) relation twice — model branch and scoring branch each
    # re-ran the explode + a (id, bg) shuffle, then paid a broadcast
    # model join, an id-keyed aggregation and an ids left-join: 4
    # exchanges, 2 interpreted bigram passes. Now TWO Arrow passes:
    #
    # 1. model pass — mapInPandas counts bigrams per BATCH in numpy
    #    (codepoint arrays via utf-32, one uint64 key per bigram,
    #    np.unique) and emits pre-aggregated (bg, cnt) rows, so the one
    #    remaining shuffle carries <= charset^2 rows per partition; the
    #    bounded model (charset^2 rows — the documented contract that
    #    makes char-level LMs the first-pass web filter) collects to the
    #    driver, where prob_q reproduces the prior Spark arithmetic
    #    EXACTLY: floor((cnt+1 as double) * quant / (ctx_total+v as
    #    double)) is one int->double conversion, one correctly-rounded
    #    multiply, one correctly-rounded divide and an exact floor on
    #    both engines, so every prob_q is bit-identical to the old
    #    broadcast-join column.
    # 2. scoring pass — mapInPandas over (id, _t) with the sorted-key
    #    model broadcast: per-doc n_bigrams and sum(n * prob_q) are sums
    #    of exact int64s (accumulated in int64 — order-free), and the
    #    avg/ppl steps replay the identical double casts and floors.
    #    Every input row emits exactly one output row (zero-bigram docs
    #    get the explicit n=0 row), so the old ids LEFT JOIN scaffold is
    #    gone too.
    #
    # Bigram parity: Spark's substring()/length() count code points, as
    # do Python/utf-32 arrays, so s[i:i+2] enumerates the identical
    # bigram strings the transform(sequence...) form produced (every
    # slice has length 2 by construction; the old length==2 filter was
    # defensive only).
    import numpy as np
    import pandas as pd

    from .session_cache import register_session_broadcast
    from .util import persist_if_small, spread

    # materialize the normalized text ONCE per row behind spread()'s
    # exchange (a projection-collapse barrier), exactly as before
    base = spread(
        df.select(
            F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("_t")
        )
    )
    # Small-corpus persist (round 11): the model pass and the scoring
    # pass each scan + regex-normalize + Arrow-transfer the corpus; for
    # a gate-admitted input one materialization serves both (measured
    # the model job at ~1.5 s/rep at sf0.1 without it — the cost that
    # made ccnet_quality_buckets regress when scoring went two-pass).
    # Same gate + session registration as dedup_cost_census; past the
    # gate both passes keep the cache-free at-scale shape.
    base = persist_if_small(base, df)
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()

    def _doc_pairs(texts):
        """(cp, idx, doc_of_pair, npair): concatenated codepoint array,
        pair start positions, and each pair's doc index — ragged-range
        construction, no cross-doc pairs, no separator hazard."""
        cps = [
            np.frombuffer(
                (t if isinstance(t, str) else "").encode("utf-32-le"),
                dtype=np.uint32,
            )
            for t in texts
        ]
        lens = np.fromiter((len(c) for c in cps), dtype=np.int64, count=len(cps))
        cp = np.concatenate(cps) if cps else np.empty(0, np.uint32)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        npair = np.maximum(lens - 1, 0)
        total = int(npair.sum())
        if total == 0:
            return cp, np.empty(0, np.int64), np.empty(0, np.int64), npair
        cumex = np.concatenate(([0], np.cumsum(npair)[:-1]))
        idx = np.repeat(starts - cumex, npair) + np.arange(total)
        doc_of_pair = np.repeat(np.arange(len(cps)), npair)
        return cp, idx, doc_of_pair, npair

    def _model_counts(batches):
        for pdf in batches:
            cp, idx, _, _ = _doc_pairs(pdf["_t"])
            if len(idx) == 0:
                continue
            keys = (cp[idx].astype(np.uint64) << np.uint64(32)) | cp[idx + 1]
            uniq, cnt = np.unique(keys, return_counts=True)
            yield pd.DataFrame(
                {
                    "bg": [
                        chr(int(k >> np.uint64(32))) + chr(int(k & np.uint64(0xFFFFFFFF)))
                        for k in uniq
                    ],
                    "cnt": cnt.astype(np.int64),
                }
            )

    model_pdf = (
        base.select("_t")
        .mapInPandas(_model_counts, "bg string, cnt long")
        .groupBy("bg")
        .agg(F.sum("cnt").alias("cnt"))
        .toPandas()
    )
    if len(model_pdf):
        mkeys = np.fromiter(
            (
                (np.uint64(ord(b[0])) << np.uint64(32)) | np.uint64(ord(b[1]))
                for b in model_pdf["bg"]
            ),
            dtype=np.uint64,
            count=len(model_pdf),
        )
        mcnt = model_pdf["cnt"].to_numpy(dtype=np.int64)
        c1 = (mkeys >> np.uint64(32)).astype(np.int64)
        uniq_c1, inv = np.unique(c1, return_inverse=True)
        ctx_total = np.zeros(len(uniq_c1), dtype=np.int64)
        np.add.at(ctx_total, inv, mcnt)
        v = len(uniq_c1)
        prob = np.floor(
            (mcnt + 1).astype(np.float64)
            * float(quant)
            / (ctx_total[inv] + v).astype(np.float64)
        ).astype(np.int64)
        order = np.argsort(mkeys, kind="mergesort")
        bc_model = (mkeys[order], prob[order])
    else:
        bc_model = (np.empty(0, np.uint64), np.empty(0, np.int64))
    bc = register_session_broadcast(spark.sparkContext.broadcast(bc_model))

    def _score(batches):
        skeys, sprob = bc.value
        for pdf in batches:
            cp, idx, doc_of_pair, npair = _doc_pairs(pdf["_t"])
            n = npair  # every bigram joins the corpus-built model
            sums = np.zeros(len(pdf), dtype=np.int64)
            if len(idx):
                keys = (cp[idx].astype(np.uint64) << np.uint64(32)) | cp[idx + 1]
                pos = np.searchsorted(skeys, keys)
                np.add.at(sums, doc_of_pair, sprob[pos])
            nf = n.astype(np.float64)
            with np.errstate(invalid="ignore", divide="ignore"):
                avg = np.where(
                    n == 0, 0, np.floor(sums.astype(np.float64) / nf)
                ).astype(np.int64)
                ppl = np.where(
                    avg == 0,
                    0,
                    np.floor(float(quant) / avg.astype(np.float64)),
                ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_bigrams": n,
                    "avg_prob_q": avg,
                    "ppl_proxy": ppl,
                }
            )

    return base.mapInPandas(
        _score,
        f"id {id_type}, n_bigrams bigint, avg_prob_q bigint, ppl_proxy bigint",
    )


def tf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_token_df: int | None = None,
    dense_vocab_limit: int = 4096,
    sparse_strategy: str | None = None,
) -> DataFrame:
    """Term-frequency cosine similarity for all document pairs sharing a
    token — the bag-of-words companion to the Jaccard family (Jaccard
    sees sets; tf-cosine sees counts, so 'the the the cat' and 'the cat'
    separate).

    Determinism: numerators are sums of INTEGER tf products and norms are
    integer self-product sums — order-independent — so the only floating
    point is one correctly-rounded sqrt/division per pair, rounded to 6:
    fully hash-checkable, unlike float-weighted tf-idf whose log weights
    would hang on cross-libm ln() ulps.

    Adaptive physical strategy, exactly the Jaccard family's split:

    - **dense vocabulary** (distinct tokens <= ``dense_vocab_limit``, as
      on boilerplate-heavy or synthetic corpora): per-doc dense tf arrays
      feed the SHARDED blocked-BLAS cosine machinery
      (similarity.cosine_near_dup_pairs). A postings join here is
      catastrophic — every token is a stop token, sum(df^2) ~ all-pairs
      through a shuffle (measured 124 s vs ~3 s at sf0.1). Integer tf
      sums stay exact in float64 regardless of BLAS summation order, so
      the dense path is just as hash-stable.
    - **sparse vocabulary** (the realistic web corpus), two exact
      sub-strategies selected by ``sparse_strategy``:

      * ``"prefix"`` (the default when no df cap is set): AllPairs
        prefix-filtered candidate
        generation (Bayardo/Ma/Srikant WWW'07 — cosine is the family's
        NATIVE case; see ``_tf_cosine_pairs_prefix`` for the L2
        suffix-norm completeness bound). Only each doc's rarest-first
        prefix is indexed, so a Zipfian stop token's posting list never
        explodes: its sum(df^2) pair blowup — the shape this module's
        own warning above calls catastrophic — collapses with NO df cap
        and no recall loss. This is the strategy that survives a web
        corpus, hence the default. (Measured forced-sparse at sf0.1 on
        the 31-token synthetic corpus — the ADVERSARIAL dense case where
        prefixes overlap corpus-wide and candidates degenerate to
        all-pairs: prefix ~58 s vs postings ~124 s vs the dense-BLAS
        gate's ~4 s; the gate exists precisely to route such corpora
        around both sparse forms.)
      * ``"postings"``: single-shuffle inverted-index form — per-token
        posting lists generate pair contributions, per-doc norms ride
        map-side. Shuffle volume is sum over tokens of df^2: only safe
        under ``max_token_df``, which caps stop-token posting lists
        (same recall contract as the Jaccard df cap: pairs sharing ONLY
        capped tokens drop). Setting ``max_token_df`` selects this
        strategy (``sparse_strategy=None`` means auto: cap -> postings,
        no cap -> prefix) — the prefix path verifies on full tf maps and
        cannot honor the cap, so EXPLICITLY combining it with the cap
        raises (mirror of the Jaccard parameter contract).

    The vocabulary probe is a distributed ``approx_count_distinct`` —
    never a collect. A ``dense_vocab_limit`` of 0 pins the sparse path
    and skips the probe pass entirely.

    Output: (id_a, id_b, cos_sim) with id_a < id_b, cos_sim >= threshold.
    """
    if sparse_strategy not in (None, "prefix", "postings"):
        raise ValueError(f"unknown sparse_strategy: {sparse_strategy!r}")
    if sparse_strategy == "prefix" and max_token_df is not None:
        raise ValueError(
            "sparse_strategy='prefix' is incompatible with max_token_df: "
            "the prefix path verifies on full per-doc tf maps and would not "
            "honor the df cap; use sparse_strategy='postings' with the cap, "
            "or drop the cap (the prefix filter needs none)"
        )
    if sparse_strategy is None:
        sparse_strategy = "postings" if max_token_df is not None else "prefix"
    tok = _tf_tokens(df, text_col, id_col)
    if max_token_df is None and dense_vocab_limit > 0:
        # Small-corpus fast tier (round-10, the _jaccard_pairs_dense_pdf
        # recipe weighted): when Catalyst's INPUT estimate admits the
        # small-corpus gate, ONE Arrow collect of the (id, tok, tf) rows
        # serves both the vocabulary gate (exact count, no HLL probe job)
        # and the dense build — an admitted dense path reaches the
        # candidate map with zero further jobs (the distributed tier
        # below pays probe + vocab distinct/count + entries agg + count:
        # 4-5 build jobs per bench rep). Past the gate, the distributed
        # window below is unchanged.
        from .util import small_corpus_pdf

        pdf = small_corpus_pdf(tok.select("id", "tok", "tf"), df, nonnull=("id",))
        if pdf is not None and len(pdf):
            import pandas as pd

            pdf = pdf.sort_values("id", kind="mergesort", ignore_index=True)
            codes, uniq = pd.factorize(pdf["tok"])
            # dense-matrix byte cap (round-11, r10 ADVICE): the pdf tier
            # scatter-builds ONE n_docs x v_size float64 matrix per task,
            # so it honors the same 256 MB bound _tf_cosine_dense's
            # sharding enforces — a session raising the input-estimate
            # gate can no longer admit matrices that spike every
            # executor's memory at once. Past the cap the distributed
            # (sharded) dense tier below serves the same result.
            n_docs_pdf = int(pdf["id"].nunique())
            if (
                len(uniq) <= dense_vocab_limit
                and n_docs_pdf * len(uniq) * 8 <= 256 << 20
            ):
                id_t = tok.schema["id"].dataType.simpleString()
                return _tf_cosine_dense_pdf(
                    df.sparkSession, pdf, codes, len(uniq), threshold, id_t
                )
            if len(uniq) <= dense_vocab_limit:
                # dense vocab but matrix past the byte cap: the sharded
                # distributed dense tier (256 MB reference shards) is the
                # right shape — prefix degenerates on dense vocabularies
                return _tf_cosine_dense(tok, threshold)
            # vocab past the dense gate: sparse fallthrough (probe skipped
            # — the exact count already answered it)
            if sparse_strategy == "prefix":
                return _tf_cosine_pairs_prefix(tok, threshold)
        elif pdf is not None:
            id_t = tok.schema["id"].dataType.simpleString()
            return df.sparkSession.createDataFrame(
                [], f"id_a {id_t}, id_b {id_t}, cos_sim double"
            )
    if max_token_df is not None:
        keep = tok.groupBy("tok").agg(F.count("*").alias("df_"))
        tok = tok.join(
            F.broadcast(keep.filter(F.col("df_") <= max_token_df).select("tok")), "tok"
        )
    elif (
        dense_vocab_limit > 0
        and tok.agg(F.approx_count_distinct("tok").alias("v")).collect()[0]["v"]
        <= dense_vocab_limit
    ):
        return _tf_cosine_dense(tok, threshold)
    elif sparse_strategy == "prefix":
        return _tf_cosine_pairs_prefix(tok, threshold)
    norms = tok.groupBy("id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a = tok.select(F.col("id").alias("id_a"), "tok", F.col("tf").alias("tf_a"))
    b = tok.select(F.col("id").alias("id_b"), "tok", F.col("tf").alias("tf_b"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("n2").alias("nb2"))
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
        6,
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _tf_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, tok, tf) term-frequency relation — the shared front end of the
    tf-cosine family (one explode + one doc-scoped partial-agg shuffle)."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode_outer(tokens(normalize_text(F.col(text_col)))).alias("tok"),
        )
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
    )


def tf_cosine_pairs_between(
    new: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_token_df: int | None = None,
) -> DataFrame:
    """Incremental (cross-corpus) tf-cosine: for each NEW document, its
    near-duplicates among an EXISTING corpus — the cosine companion to
    ``dedup.jaccard_pairs_between``, completing the ingestion-time story
    for the counts-sensitive operator (a continuously-fed pipeline never
    re-runs the quadratic self-join over all history).

    Shape: inverted-index join between the two tf relations — the corpus
    postings shuffle by token once (bucketable, exactly like the Jaccard
    twin's ``bucketBy`` index) and the small batch probes them, so the
    pair volume is sum over tokens of df_new * df_corpus: LINEAR in the
    corpus per batch, vs the self-join's quadratic sum(df^2). Stop
    tokens still dominate that linear term on a Zipfian corpus;
    ``max_token_df`` caps the CORPUS-side posting lists (same recall
    contract as the Jaccard cap: pairs whose only shared tokens are
    capped drop — the cap table is computed on corpus df, so a new
    batch's verdicts don't depend on batch composition).

    Same integer-exact arithmetic as ``tf_cosine_pairs`` (bigint dot and
    norms, one rounded sqrt/div per pair). Output: (new_id, old_id,
    cos_sim) with cos_sim >= threshold; a new doc with no qualifying
    match is absent (left-anti against this = the admission filter).
    """
    tok_new = _tf_tokens(new, text_col, id_col)
    tok_old = _tf_tokens(corpus, text_col, id_col)
    if max_token_df is not None:
        keep = tok_old.groupBy("tok").agg(F.count("*").alias("df_"))
        keep = F.broadcast(keep.filter(F.col("df_") <= max_token_df).select("tok"))
        tok_old = tok_old.join(keep, "tok")
        tok_new = tok_new.join(keep, "tok")
    n_new = tok_new.groupBy("id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    n_old = tok_old.groupBy("id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a = tok_new.select(F.col("id").alias("new_id"), "tok", F.col("tf").alias("tf_a"))
    b = tok_old.select(F.col("id").alias("old_id"), "tok", F.col("tf").alias("tf_b"))
    dots = (
        a.join(b, "tok")
        .groupBy("new_id", "old_id")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = n_new.select(F.col("id").alias("new_id"), F.col("n2").alias("na2"))
    nb = n_old.select(F.col("id").alias("old_id"), F.col("n2").alias("nb2"))
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
        6,
    )
    return (
        dots.join(na, "new_id")
        .join(nb, "old_id")
        .select("new_id", "old_id", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


# versions the normalize/tokenize recipe baked into a saved tf index; a
# recipe change must invalidate old indexes (mirrors dedup._SHINGLE_RECIPE)
_TF_RECIPE = "v1:trim-lower-collapse-ws-split"


def save_tf_index(
    corpus: DataFrame,
    table: str,
    buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_token_df: int | None = None,
) -> None:
    """Materialize the corpus's tf posting table BUCKETED BY token — the
    cosine mirror of ``dedup.save_shingle_index``: every later
    ``tf_cosine_pairs_against_index`` probe sort-merges against
    bucket-aligned splits with ZERO corpus-side shuffle, so per-batch
    ingestion cost scales with the batch, not with history.

    Per-doc squared norms are DENORMALIZED onto the postings (one n2
    column) so a probe needs no second corpus pass and no corpus-sized
    id-keyed join — the cost is one bigint per posting row.

    ``max_token_df`` caps stop-token posting lists AT BUILD TIME (norms
    are computed post-cap, so capped and uncapped indexes are different,
    internally-consistent vector spaces); the cap and the tokenize recipe
    are recorded as table properties and re-checked by every probe — a
    mismatch would silently yield near-empty joins instead of an error.
    """
    tok = _tf_tokens(corpus, text_col, id_col)
    if max_token_df is not None:
        keep = tok.groupBy("tok").agg(F.count("*").alias("df_"))
        tok = tok.join(
            F.broadcast(keep.filter(F.col("df_") <= max_token_df).select("tok")),
            "tok",
        )
    n2 = tok.groupBy("id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("n2")
    )
    (
        tok.join(n2, "id")
        .write.mode("overwrite")
        .bucketBy(buckets, "tok")
        .sortBy("tok")
        .saveAsTable(table)
    )
    corpus.sparkSession.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ("
        f"'lesw.tf_recipe' = '{_TF_RECIPE}', "
        f"'lesw.tf_df_cap' = '{'' if max_token_df is None else int(max_token_df)}')"
    )


def tf_cosine_pairs_against_index(
    new: DataFrame,
    index_table: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_token_df: int | None = None,
) -> DataFrame:
    """``tf_cosine_pairs_between`` with the corpus side served from a
    ``save_tf_index`` bucketed table instead of re-tokenizing raw
    documents: the corpus postings arrive bucket-aligned on the join key
    (zero corpus-side exchange, pinned in tests/test_plans.py) with their
    norms riding along, so the probe's only corpus-sized work is the
    sort-merge read itself.

    ``max_token_df`` must MATCH the index's build-time cap (the stored n2
    was computed under it; applying a different cap at probe time would
    mix vector spaces) — checked against the recorded table properties,
    as is the tokenize recipe."""
    spark = new.sparkSession
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {index_table}").collect()
    }
    stored_recipe = props.get("lesw.tf_recipe")
    stored_cap = props.get("lesw.tf_df_cap")
    probe_cap = "" if max_token_df is None else str(int(max_token_df))
    if stored_recipe is not None and (
        stored_recipe != _TF_RECIPE or (stored_cap or "") != probe_cap
    ):
        raise ValueError(
            f"tf-index mismatch for table {index_table!r}: index was built "
            f"with recipe={stored_recipe!r}, max_token_df={stored_cap!r}; "
            f"probe uses recipe={_TF_RECIPE!r}, max_token_df={probe_cap!r}. "
            "Rebuild the index with save_tf_index or match the probe "
            "parameters."
        )
    old = spark.table(index_table)
    tok_new = _tf_tokens(new, text_col, id_col)
    if max_token_df is not None:
        # the new side must see the same token universe the index stores;
        # the index's own rows are already capped at build time
        keep = old.select("tok").distinct()
        tok_new = tok_new.join(keep, "tok", "left_semi")
    n_new = tok_new.groupBy("id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a = tok_new.select(F.col("id").alias("new_id"), "tok", F.col("tf").alias("tf_a"))
    b = old.select(
        F.col("id").alias("old_id"), "tok", F.col("tf").alias("tf_b"), F.col("n2").alias("nb2")
    )
    dots = (
        a.join(b, "tok")
        .groupBy("new_id", "old_id", "nb2")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = n_new.select(F.col("id").alias("new_id"), F.col("n2").alias("na2"))
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
        6,
    )
    return (
        dots.join(na, "new_id")
        .select("new_id", "old_id", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _tf_cosine_pairs_prefix(tok: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filtered exact tf-cosine (AllPairs, Bayardo/Ma/Srikant WWW'07
    — the algorithm's native, weighted-cosine case; the Jaccard twin at
    ``dedup._jaccard_pairs_prefix`` is the set adaptation).

    Completeness bound — NOTE it is the L2 suffix-norm bound, not the
    Jaccard set-count bound (``|s| - ceil(t|s|) + 1`` is NOT valid for
    weighted cosine: two docs sharing one hot token can have cos = 1
    while their set overlap is a single element). Order the token
    universe by ANY global total order and, per doc, index the minimal
    head (prefix) of its token list such that the remaining suffix has
    sum(tf^2) < t^2 * n2 — i.e. normalized suffix L2 norm < t. If
    cos(x, y) >= t and no common token falls in BOTH prefixes, then (with
    e_x = last prefix token of the earlier-ending prefix) every common
    token sorts after e_x, so all common mass lives in x's suffix and
    dot(x, y) <= |suffix(x)| * |y| < t * |x| * |y| — contradiction. So a
    bucket join on prefix tokens alone generates every qualifying pair.

    The global order is (corpus df ASC, token): rarest-first. Unlike the
    Jaccard twin's free xxhash64 order, the df order costs one extra
    token-keyed shuffle (the df table join) — paid deliberately, because
    for COSINE a hash order only shrinks a stop token's bucket by the
    constant prefix fraction (~1-t^2), leaving the sum(df^2) blowup
    intact, while rarest-first puts Zipfian stop tokens at the suffix
    end where they are (almost) never indexed: prefix bucket sizes are
    bounded by RARE-token df and stay flat as the corpus grows.

    Candidates explode bucket-locally (``dedup._bucket_local_pairs`` —
    one shuffle, chunked against degenerate buckets, no self-join), then
    each distinct candidate verifies EXACTLY by a SORT-MERGE integer dot
    product: both docs' (df, token, tf) arrays are already sorted under
    the shared global order, so concat + array_sort + one linear HOF
    aggregate (adjacent equal tokens multiply — a token appears at most
    once per side) computes the dot in O(k log k) per pair. NOT a
    per-entry map lookup: Spark map element_at is a LINEAR key scan (no
    hash index), which would make each verify O(|a|*|b|). Same rounding
    as the postings path, so all three strategies are hash-identical.

    Shuffles: df agg + df join (token-keyed), per-doc array agg (id),
    bucket groupBy, candidate distinct, two id-keyed verify joins — all
    on doc- or token-scoped keys; none moves text, and no stop-token
    posting list is ever self-joined.
    """
    from .dedup import _bucket_local_pairs

    t = threshold - 1e-6
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("_dfreq"))
    arr = (
        tok.join(dfreq, "tok")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_dfreq").alias("d"),
                        F.col("tok").alias("g"),
                        F.col("tf").cast("bigint").alias("w"),
                    )
                )
            ).alias("_arr"),
            F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("n2"),
        )
    )
    # index position i iff presum(tf^2 before i) <= (1 - t^2) * n2; presum
    # is nondecreasing so the indexed set is a head, and the first
    # unindexed position onward has suffix norm^2 < t^2 * n2 (the bound
    # above). t is slacked by 1e-6 so float compare can only over-index.
    bound = (F.lit(1.0) - F.lit(t * t)) * F.col("n2").cast("double")
    plen = F.aggregate(
        F.transform("_arr", lambda x: x["w"] * x["w"]),
        F.struct(
            F.lit(0).cast("bigint").alias("s"), F.lit(0).cast("int").alias("p")
        ),
        lambda st, v: F.struct(
            (st["s"] + v).alias("s"),
            (
                st["p"]
                + F.when(st["s"].cast("double") <= bound, F.lit(1)).otherwise(F.lit(0))
            ).alias("p"),
        ),
        lambda st: st["p"],
    )
    docs = arr.select(
        "id",
        "n2",
        F.transform(F.slice("_arr", F.lit(1), plen), lambda x: x["g"]).alias("_pre"),
        "_arr",
    )
    pre = docs.select("id", F.explode_outer("_pre").alias("tok")).filter(
        F.col("tok").isNotNull()
    )
    cands = (
        _bucket_local_pairs(pre, ["tok"], [])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    da = docs.select(
        F.col("id").alias("_ia"), F.col("_arr").alias("_sa"), F.col("n2").alias("na2")
    )
    db = docs.select(
        F.col("id").alias("_ib"), F.col("_arr").alias("_sb"), F.col("n2").alias("nb2")
    )
    # sort-merge dot: entries of the same token share (d, g) and land
    # adjacent after the sort; per-doc tokens are distinct, so an
    # adjacent equal-token pair is always one entry from each side
    merged = F.array_sort(F.concat("_sa", "_sb"))
    dot = F.aggregate(
        merged,
        F.struct(
            F.lit(None).cast("string").alias("pg"),
            F.lit(0).cast("bigint").alias("pw"),
            F.lit(0).cast("bigint").alias("acc"),
        ),
        lambda st, x: F.struct(
            x["g"].alias("pg"),
            x["w"].alias("pw"),
            (
                st["acc"]
                + F.when(st["pg"] == x["g"], st["pw"] * x["w"]).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias("acc"),
        ),
        lambda st: st["acc"],
    )
    cos = F.round(
        dot.cast("double")
        / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
        6,
    )
    return (
        cands.join(da, cands["id_a"] == da["_ia"])
        .join(db, cands["id_b"] == db["_ib"])
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _tf_cosine_dense_pdf(
    spark, pdf, codes, v_size: int, threshold: float, id_type: str
) -> DataFrame:
    """Small-corpus tf-cosine dense tier: weighted CSR straight from the
    gate's ALREADY-COLLECTED id-sorted (id, tok, tf) frame — zero Spark
    jobs between the gate and the candidate map (the
    ``_jaccard_pairs_dense_pdf`` recipe with tf weights). What broadcasts
    is the CSR (indptr + int32 cols + f64 weights, O(nnz)); each task
    scatter-builds the dense matrix once and computes chunked matmuls —
    exact integer dots/norms in float64, the one inexact step
    (round(dot / sqrt(na2 * nb2), 6)) runs in the SAME Spark expression
    as every other strategy, so boundary pairs resolve identically."""
    import numpy as np
    import pandas as pd

    from .dedup import _csr_from_id_sorted

    ids_all, _sz, indptr, cols = _csr_from_id_sorted(pdf, codes)
    weights = pdf["tf"].to_numpy(dtype=np.float64)
    n_docs = len(ids_all)
    from .session_cache import register_session_broadcast

    bc = register_session_broadcast(
        spark.sparkContext.broadcast((ids_all, indptr, cols, weights, v_size))
    )
    n_cpus = spark.sparkContext.defaultParallelism
    chunk = max(1, (1 << 25) // max(n_docs, 1))
    margin = threshold - 1e-6  # same pre-filter slack as _tf_cosine_dense
    out_schema = (
        f"id_a {id_type}, id_b {id_type}, dot bigint, na2 bigint, nb2 bigint"
    )

    def block(batches):
        r_ids, r_indptr, r_cols, r_w, nv = bc.value
        ref = np.zeros((len(r_ids), nv), dtype=np.float64)
        ref[np.repeat(np.arange(len(r_ids)), np.diff(r_indptr)), r_cols] = r_w
        rn2 = (ref * ref).sum(axis=1)  # exact integer self-sums in f64
        with np.errstate(invalid="ignore", divide="ignore"):
            for b in batches:
                if len(b) == 0:
                    continue
                rows = b["i"].to_numpy(dtype=np.int64)
                for s in range(0, len(rows), chunk):
                    idx = rows[s : s + chunk]
                    dots = ref[idx] @ ref.T  # exact integer dots in f64
                    sims = dots / np.sqrt(rn2[idx][:, None] * rn2[None, :])
                    mask = sims >= margin
                    ai, bj = np.nonzero(mask)
                    if len(ai):
                        keep = bj > idx[ai]  # id-sorted rows: index IS id order
                        ai, bj = ai[keep], bj[keep]
                    if len(ai):
                        yield pd.DataFrame(
                            {
                                "id_a": r_ids[idx[ai]],
                                "id_b": r_ids[bj],
                                "dot": dots[ai, bj].astype(np.int64),
                                "na2": rn2[idx[ai]].astype(np.int64),
                                "nb2": rn2[bj].astype(np.int64),
                            }
                        )

    idx_df = spark.range(n_docs).select(F.col("id").cast("int").alias("i"))
    cand = idx_df.repartition(n_cpus).mapInPandas(block, out_schema)
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
        6,
    )
    return cand.select("id_a", "id_b", cos.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


def _tf_cosine_dense(tok: DataFrame, threshold: float) -> DataFrame:
    """Dense-vocab tf-cosine: assemble per-doc tf vectors over the (small,
    broadcastable) vocabulary and run the sharded blocked-BLAS pair
    search. The vocab index is deterministic (row_number by token text);
    zero-token docs never enter ``tok`` so no zero vector exists.

    Hash-parity discipline (round 6 — a property test caught the dense
    and sparse paths rounding a boundary pair apart): the BLAS block
    computes only EXACT integers — ``a @ ref.T`` on raw tf vectors is an
    exact integer dot in float64 (terms bounded by n2^2 * vocab << 2^53),
    norms are exact integer self-sums — and emits (dot, na2, nb2); the
    one inexact step, ``round(dot / sqrt(na2 * nb2), 6)``, runs in the
    SAME Spark expression the sparse paths use, so all three strategies
    produce bit-identical doubles by construction. (The earlier delegate,
    similarity.cosine_near_dup_pairs, normalizes each vector before the
    matmul — a different float association that can land a hair across a
    rounding boundary from dot/sqrt.) The block pre-filters with a 1e-9
    margin and the exact threshold applies after the Spark-side round.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    from .session_cache import register_session_broadcast
    from .util import spread

    spark = tok.sparkSession
    vocab = (
        tok.select("tok")
        .distinct()
        .withColumn(
            "_idx", F.row_number().over(Window.orderBy("tok")).cast("int") - 1
        )
    )
    v_size = vocab.count()
    if v_size == 0:
        # a corpus whose every document normalizes to zero tokens (empty/
        # null text) has no pairs; the BLAS block must not probe an empty
        # frame for its dimension
        id_t = tok.schema["id"].dataType.simpleString()
        return spark.createDataFrame(
            [], f"id_a {id_t}, id_b {id_t}, cos_sim double"
        )
    # SPARSE transfer, dense only inside numpy (the _jaccard_pairs_dense
    # recipe): shipping (idx, tf) entry lists instead of a V-length array
    # per doc keeps the shuffle/collect/Arrow bytes at O(nnz) — and
    # avoids densifying in Catalyst, where filling V positions from a map
    # costs O(V * |entries|) per doc (map element_at is a linear scan)
    entries = (
        tok.join(F.broadcast(vocab), "tok")
        .groupBy("id")
        .agg(F.collect_list(F.struct(F.col("_idx"), F.col("tf"))).alias("_e"))
    )
    dense = entries.select(
        "id",
        F.transform("_e", lambda e: e["_idx"]).alias("_ix"),
        F.transform("_e", lambda e: e["tf"].cast("double")).alias("_tv"),
    )

    def densify(ix_col, tv_col):
        mat = np.zeros((len(ix_col), v_size), dtype=np.float64)
        for i, (ix, tv) in enumerate(zip(ix_col, tv_col)):
            mat[i, np.asarray(ix, dtype=np.int64)] = np.asarray(tv, dtype=np.float64)
        return mat

    # sharded reference, same blocking discipline as
    # similarity.cosine_near_dup_pairs: no broadcast, task intermediate,
    # or Arrow batch scales with the whole corpus — only with one shard
    n = dense.count()
    rows_per_shard = max(1, (256 << 20) // (v_size * 8))
    n_shards = int((n + rows_per_shard - 1) // rows_per_shard)
    # pre-filter margin must admit every pair whose ROUNDED cosine reaches
    # the threshold: round-half-up at 6 decimals keeps unrounded values
    # from threshold - 0.5e-6 upward, so the block filters at a full grid
    # step below and the exact Spark-side round/filter decides the edge
    # (a 1e-9 margin here would drop a true 0.7999996 that rounds to 0.8)
    margin = threshold - 1e-6

    def shard_pairs(shard_idx: int):
        rows = dense.filter(F.pmod(F.col("id"), n_shards) == shard_idx).collect()
        if not rows:
            return None
        ref_ids = np.array([r["id"] for r in rows], dtype=np.int64)
        ref = densify([r["_ix"] for r in rows], [r["_tv"] for r in rows])
        ref_n2 = (ref * ref).sum(axis=1)  # exact integer self-sums
        bc = register_session_broadcast(
            spark.sparkContext.broadcast((ref_ids, ref, ref_n2))
        )

        def block(batches):
            rids, rmat, rn2 = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                a = densify(pdf["_ix"], pdf["_tv"])
                dots = a @ rmat.T  # exact integer dots in float64
                an2 = (a * a).sum(axis=1)
                aid = pdf["id"].to_numpy(dtype=np.int64)
                sims = dots / np.sqrt(an2[:, None] * rn2[None, :])
                mask = (aid[:, None] < rids[None, :]) & (sims >= margin)
                ai, bj = np.nonzero(mask)
                if len(ai):
                    yield pd.DataFrame(
                        {
                            "id_a": aid[ai],
                            "id_b": rids[bj],
                            "dot": dots[ai, bj].astype(np.int64),
                            "na2": an2[ai].astype(np.int64),
                            "nb2": rn2[bj].astype(np.int64),
                        }
                    )

        return spread(dense).mapInPandas(
            block, "id_a bigint, id_b bigint, dot bigint, na2 bigint, nb2 bigint"
        )

    parts = [p for p in (shard_pairs(s) for s in range(n_shards)) if p is not None]
    if not parts:
        return spark.createDataFrame([], "id_a bigint, id_b bigint, cos_sim double")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
        6,
    )
    return out.select("id_a", "id_b", cos.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training primitives
# ---------------------------------------------------------------------------
def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) corpus word-frequency table — BPE training's first move.

    Scale shape: THE reduction that makes tokenizer training tractable at
    100 TB — the corpus collapses to its vocabulary (Heaps' law: ~10^6-7
    distinct words at web scale) in one partial-aggregated groupBy, and
    every later per-character pass touches only the vocab table weighted
    by these counts, never the corpus again."""
    return (
        df.select(F.explode(tokens(normalize_text(F.col(text_col)))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _adjacent_pairs(sym_col: Column) -> Column:
    """All adjacent symbol pairs of a space-separated symbol string, as
    'a b' strings (multiplicity preserved — BPE counts every occurrence).
    Guarded for single-symbol strings: Spark's sequence(1, 0) counts DOWN
    ([1, 0]), it does not return empty."""
    syms = F.split(sym_col, " ")
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(pair, cnt): corpus-weighted adjacent CHARACTER-pair counts — one
    BPE merge-selection step over the un-merged (character-level) corpus.
    ``pair`` is the 2-character substring; ``cnt`` sums word_count x
    within-word occurrences. All-integer, so the ranking hash-checks.

    Scale: pair explosion runs over the (word, n) VOCAB table, not the
    corpus; the pair-count state is bounded by |alphabet|^2."""
    wc = word_counts(df, text_col)
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.substring(F.col("word"), i, F.lit(2)),
        )
    ).alias("pair")
    return (
        wc.filter(F.length("word") >= 2)
        .select(pair, "n")
        .groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
    )


def bpe_learn(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> list[tuple[str, int]]:
    """Learn ``n_merges`` BPE merges (Sennrich et al., ACL'16) over the
    corpus: repeatedly count adjacent symbol pairs on the weighted vocab
    table and merge the most frequent (count desc, pair asc tie-break —
    fully deterministic). Returns the ordered merge list
    [(\"a b\", count), ...].

    Physical shape per round: one distributed pair-count aggregate over
    the VOCAB table (bounded by vocab size, never the corpus), ONE
    (pair, count) row collected to the driver, and a map-side
    regexp_replace applying the merge. Like kmeans_fit, the driver holds
    O(n_merges) state total; lineage is cut per round with
    localCheckpoint so the plan stays O(1) deep.

    Merge application is the standard greedy left-to-right non-overlap
    pass ('a a a' with merge 'a a' -> 'aa a'), which is exactly Java
    regexp_replace's semantics with boundary lookarounds."""
    import re as _re

    vocab = word_counts(df, text_col).select(
        F.regexp_replace(F.col("word"), "(.)", "$1 ").alias("syms"),
        "n",
    ).select(F.trim(F.col("syms")).alias("syms"), "n")
    merges: list[tuple[str, int]] = []
    for _ in range(n_merges):
        counts = (
            vocab.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not counts:
            break
        pair, cnt = counts[0]["pair"], int(counts[0]["cnt"])
        merges.append((pair, cnt))
        a, b = pair.split(" ")
        pat = f"(?<=^|\\s){_re.escape(a)} {_re.escape(b)}(?=\\s|$)"
        merged = a + b
        vocab = vocab.select(
            F.regexp_replace(F.col("syms"), pat, _re.sub(r"([$\\])", r"\\\1", merged)).alias("syms"),
            "n",
        ).localCheckpoint()
    return merges


def bpe_apply(col: Column, merges: list[str]) -> Column:
    """Apply an ordered BPE merge list (["a b", "ab c", ...]) to a WORD
    column, returning its space-joined piece sequence — the ENCODE side
    of ``bpe_learn``, as a pure Catalyst expression chain (no UDF).

    Exactness without lookbehind: greedy left-to-right non-overlapping
    merge of each rank is the classic pain point for plain ``replace``
    (consuming a shared boundary space makes runs like "a a a a a"
    merge to "aa a aa" instead of BPE's "aa aa a"). The fix is the
    DOUBLED-BOUNDARY representation: every inter-symbol boundary is two
    spaces, the pattern " a  b " consumes ONE space from each side, so
    adjacent matches still see their leading space and left-to-right
    ``replace`` semantics coincide exactly with BPE's per-rank merge —
    in Spark and in any engine with a plain replace (the DuckDB oracle
    runs the identical chain). Proven against an independent Python BPE
    in tests (runs, a==b merges, recursive merges).
    """
    # "abc" -> " a  b  c " (boundaries doubled, single-space ends)
    s = F.concat(
        F.lit(" "), F.rtrim(F.regexp_replace(col, "(.)", "$1  ")), F.lit(" ")
    )
    for m in merges:
        a, b = m.split(" ")
        s = F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def bpe_apply_sql(expr: str, merges: list[str]) -> str:
    """DuckDB twin of ``bpe_apply`` — the same doubled-boundary replace
    chain, so both engines produce byte-identical piece sequences."""
    s = f"' ' || rtrim(regexp_replace({expr}, '(.)', '\\1  ', 'g')) || ' '"
    for m in merges:
        a, b = m.split(" ")
        s = f"replace({s}, ' {a}  {b} ', ' {a}{b} ')"
    return rf"trim(regexp_replace({s}, '\s+', ' ', 'g'))"


def bpe_encode_vocab(
    df: DataFrame,
    merges: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Encode the corpus under a frozen BPE merge list, vocab-reduced:
    the corpus collapses to its (word, n) vocabulary first (the same
    Heaps-law reduction as training — the encode chain runs once per
    DISTINCT word, never once per token), then every word's piece
    sequence and piece count come from the ``bpe_apply`` chain map-side.

    Output: (word, n, pieces, n_pieces) — one row per distinct word.
    Downstream, per-document piece counts are a broadcast-or-hash join
    of the doc's words against this table (bounded by vocab size).
    """
    wc = word_counts(df, text_col)
    pieces = bpe_apply(F.col("word"), merges)
    return wc.select(
        "word",
        F.col("n").cast("bigint").alias("n"),
        pieces.alias("pieces"),
        F.size(F.split(pieces, " ")).cast("bigint").alias("n_pieces"),
    )


# ---------------------------------------------------------------------------
# Gopher quality-rule battery + C4 line-level cleaning
# ---------------------------------------------------------------------------

# The Gopher stopword list (Rae et al. 2021, "Scaling Language Models",
# appendix A.1.1): a doc must contain at least 2 of these to pass the
# stop-word rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, appendix A.1.1)
    as one map-side projection — every rule a named boolean column so a
    pipeline can report WHICH rule dropped a document, not just that one
    did (the reference evaluates its per-criterion verdicts the same way —
    `Criterion::take_action`, src/signup/rules.rs:247-300; this is the
    LLM-corpus analogue of that rule battery).

    Rules (each True = passes):
      r_word_count    min_tokens <= n_tokens <= max_tokens
      r_mean_word_len mean token length in [3, 10] chars
      r_symbol_ratio  ('#' + '...') occurrences / n_tokens <= 0.1
      r_bullet_lines  fraction of lines starting with a bullet <= 0.9
      r_ellipsis_lines fraction of lines ending with '...' <= 0.3
      r_alpha_words   fraction of tokens containing a letter >= 0.8
      r_stopwords     doc contains >= 2 distinct GOPHER_STOPWORDS
      keep            conjunction of all seven

    Engine-stability discipline: every threshold is compared in integer
    cross-multiplied form (10*symbols <= n_tokens, 3*n <= total_len <=
    10*n, ...) — no float division anywhere, so the DuckDB oracle hashes
    bit-identically with zero quantization machinery. The letter test is
    ``t != upper(t)``: tokens are already lowercased by normalize_text,
    so any character that changes under upper() is a letter — a codegen'd
    string compare instead of a per-token regex in an interpreted lambda
    (SCALE.md regime note #4). Lines come from the RAW text column
    (normalize_text collapses newlines); a single-line corpus passes both
    line rules by construction.

    Scale: pure per-row projection, no shuffle, no state — embarrassingly
    parallel at 100 TB. All HOF lambdas are O(1) string ops per element
    (the measured-fine HOF regime). ``carry_cols`` pass through map-side
    (the chunk_documents convention) so per-source rollups never join the
    verdicts back to the corpus.

    Output: (doc_id, *carry_cols, n_tokens, r_* x7, keep).
    """
    c = F.col(text_col)
    tk = tokens(normalize_text(c))
    n = F.size(tk).cast("bigint")
    total_len = F.aggregate(tk, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
    norm = normalize_text(c)
    n_hash = (F.length(norm) - F.length(F.replace(norm, F.lit("#"), F.lit("")))).cast("bigint")
    n_ell = (
        (F.length(norm) - F.length(F.replace(norm, F.lit("..."), F.lit("")))) / F.lit(3)
    ).cast("bigint")
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda line: F.trim(line)),
        lambda line: F.length(line) > 0,
    )
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda line: line.startswith("-") | line.startswith("*") | line.startswith("•"),
        )
    ).cast("bigint")
    n_ell_lines = F.size(
        F.filter(lines, lambda line: line.endswith("...") | line.endswith("…"))
    ).cast("bigint")
    n_alpha = F.size(F.filter(tk, lambda t: t != F.upper(t))).cast("bigint")
    n_stops = sum(
        (F.array_contains(tk, w).cast("int") for w in GOPHER_STOPWORDS),
        F.lit(0),
    ).cast("bigint")
    rules = {
        "r_word_count": (n >= min_tokens) & (n <= max_tokens),
        "r_mean_word_len": (F.lit(3) * n <= total_len) & (total_len <= F.lit(10) * n),
        "r_symbol_ratio": F.lit(10) * (n_hash + n_ell) <= n,
        "r_bullet_lines": F.lit(10) * n_bullet <= F.lit(9) * n_lines,
        "r_ellipsis_lines": F.lit(10) * n_ell_lines <= F.lit(3) * n_lines,
        "r_alpha_words": F.lit(10) * n_alpha >= F.lit(8) * n,
        "r_stopwords": n_stops >= 2,
    }
    keep = None
    for expr in rules.values():
        keep = expr if keep is None else (keep & expr)
    return df.select(
        F.col(id_col).alias("doc_id"),
        *(carry_cols or []),
        n.alias("n_tokens"),
        *[expr.alias(name) for name, expr in rules.items()],
        keep.alias("keep"),
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    min_kept_lines: int = 3,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """C4 line-level cleaning stats (Raffel et al. 2020, section 2.2):
    a line survives iff it ends in terminal punctuation (. ! ? \"), has at
    least ``min_words`` whitespace words, and does not mention
    'javascript'; a page survives iff it contains neither 'lorem ipsum'
    nor '{' and keeps at least ``min_kept_lines`` lines.

    Physical shape: per the measured HOF-vs-explode regime (SCALE.md note
    #4), the per-line predicate carries branching + a regex-ish word
    split, so lines are EXPLODED into Tungsten hash aggregation rather
    than evaluated in an interpreted HOF lambda: trimmed nonempty lines
    explode (explode_outer so zero-line docs keep their row), each line's
    kept flag is a codegen'd projection, and one doc-keyed partial agg
    folds the counts. The page-level flags and ``carry_cols`` ride the
    groupBy keys (functionally dependent on doc_id), so no join back is
    ever needed. Doc-scoped shuffle keys distribute evenly at 100 TB (no
    global hot key can form).

    The synthetic `documents` corpus is single-line without terminal
    punctuation, so there every page reports n_kept_lines = 0; the
    multi-line semantics are pinned by unit tests on crafted strings.

    Output: (doc_id, *carry_cols, n_lines, n_kept_lines, n_kept_chars,
    keep).
    """
    c = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda line: F.trim(line)),
        lambda line: F.length(line) > 0,
    )
    carry = list(carry_cols or [])
    base = df.select(
        F.col(id_col).alias("doc_id"),
        *carry,
        (
            ~F.contains(F.lower(c), F.lit("lorem ipsum")) & ~F.contains(c, F.lit("{"))
        ).alias("_page_ok"),
        F.explode_outer(lines).alias("line"),
    )
    ln = F.col("line")
    kept = (
        F.right(ln, F.lit(1)).isin(".", "!", "?", '"')
        & (F.size(F.split(ln, r"\s+")) >= min_words)
        & ~F.contains(F.lower(ln), F.lit("javascript"))
    )
    agg = (
        base.select(
            "doc_id",
            *carry,
            "_page_ok",
            ln.isNotNull().cast("bigint").alias("_is_line"),
            F.when(ln.isNotNull() & kept, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("_kept"),
            F.when(ln.isNotNull() & kept, F.length(ln)).otherwise(F.lit(0)).cast("bigint").alias("_kept_chars"),
        )
        .groupBy("doc_id", *carry, "_page_ok")
        .agg(
            F.sum("_is_line").alias("n_lines"),
            F.sum("_kept").alias("n_kept_lines"),
            F.sum("_kept_chars").alias("n_kept_chars"),
        )
    )
    return agg.select(
        "doc_id",
        *carry,
        "n_lines",
        "n_kept_lines",
        "n_kept_chars",
        (F.col("_page_ok") & (F.col("n_kept_lines") >= min_kept_lines)).alias("keep"),
    )
