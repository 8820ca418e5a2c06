"""Property-based cross-check of every Jaccard physical strategy against
a brute-force Python oracle on adversarial corpora: empty and one-token
docs, exact duplicates, shared-prefix families — the shapes that stress
the prefix-filter completeness lemma, the length filter's boundary
(rounding to exactly the threshold), and the dense path's id handling.

Hypothesis drives the corpus; the number of Spark jobs per example is
bounded by deduplicate=True + small sizes (each example runs 3 strategies
over <=12 docs). Each example runs on a pandas-built frame twice: once
through the operators' driver tiers, once forced to the distributed
shapes."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from conftest import driver_tier_df, forced_distributed, on_each_tier

from lichess_event_stream_watcher_spark.operators import dedup as D

_WORDS = ["the", "cat", "sat", "on", "a", "mat", "dog", "ran", "far", "x1"]
_DOC = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=2, max_size=12)


def _brute_force(texts, n=2, threshold=0.5):
    def sh(t):
        toks = [w for w in re.split(r"\s+", t.strip().lower()) if w]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh(t) for i, t in enumerate(texts)}
    out = set()
    for a in sets:
        for b in sets:
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            j = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
            if j >= threshold:
                out.add((a, b, j))
    return out


@pytest.mark.parametrize("strategy", ["dense", "postings", "prefix", "prefix-df"])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=_CORPUS)
def test_jaccard_strategies_match_brute_force(spark, strategy, texts):
    df = driver_tier_df(spark, list(enumerate(texts)), "doc_id bigint, text string")
    kw = {
        "dense": {},
        "postings": {"dense_bytes_limit": 0, "sparse_strategy": "postings"},
        "prefix": {"dense_bytes_limit": 0, "sparse_strategy": "prefix"},
        # the rarest-first AllPairs order must be pair-for-pair identical
        # to the hash order (same lemma, different global total order)
        "prefix-df": {
            "dense_bytes_limit": 0,
            "sparse_strategy": "prefix",
            "prefix_order": "df",
        },
    }[strategy]
    runs = on_each_tier(
        spark,
        lambda: {
            (r.id_a, r.id_b, r.jaccard)
            for r in D.jaccard_pairs(df, n=2, threshold=0.5, **kw).collect()
        },
    )
    want = _brute_force(texts)
    for tier, got in runs.items():
        assert got == want, (tier, strategy, texts)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=_CORPUS)
def test_jaccard_between_dense_matches_inverted(spark, texts):
    """Round-10 pin for the cross-corpus dense-BLAS gate: the dense
    between path (corpus-side vocabulary, no triangle constraint, f32
    multiply-compare pre-filter) must be pair-for-pair identical to the
    sparse inverted join on corpora that stress empty docs, novel
    new-side shingles (absent from the corpus vocabulary — they count in
    na but never intersect), and exact duplicates across the split."""
    df = driver_tier_df(spark, list(enumerate(texts)), "doc_id bigint, text string")
    new = df.filter("doc_id % 2 = 1")
    old = df.filter("doc_id % 2 = 0")

    def pairs(**kw):
        return {
            (r.new_id, r.old_id, r.jaccard)
            for r in D.jaccard_pairs_between(
                new, old, n=2, threshold=0.5, **kw
            ).collect()
        }

    runs = on_each_tier(spark, lambda: (pairs(), pairs(dense_vocab_limit=0)))
    for tier, (dense, inverted) in runs.items():
        assert dense == inverted, (tier, texts)
    assert runs["driver"] == runs["distributed"], texts


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=_CORPUS)
def test_containment_dense_matches_sparse(spark, texts):
    """Round-10 pin for the containment dense-BLAS gate: the dense path
    (matmul intersections, min-size f32 pre-filter, shared
    _containment_directed tail) must be row-for-row identical to the
    prefix-filtered sparse verify path — including one-token docs, exact
    duplicates (containment 1.0 both directions), and subset docs (the
    asymmetric case the operator exists for)."""
    df = driver_tier_df(spark, list(enumerate(texts)), "doc_id bigint, text string")

    def pairs(**kw):
        return {
            (r.src_id, r.dst_id, r.containment)
            for r in D.containment_pairs(df, n=2, threshold=0.8, **kw).collect()
        }

    runs = on_each_tier(spark, lambda: (pairs(), pairs(dense_vocab_limit=0)))
    for tier, (dense, sparse) in runs.items():
        assert dense == sparse, (tier, texts)
    assert runs["driver"] == runs["distributed"], texts


def test_jaccard_dense_rounds_dyadic_ties_like_spark(spark):
    """Round-6 regression pin: Jaccard values are rational, so EXACT
    decimal ties occur — jaccard 1/128 = 0.0078125 rounds to 0.007813
    under Spark/DuckDB HALF_UP but to 0.007812 under numpy's half-even.
    The dense BLAS block must therefore emit integers and round in the
    same Spark expression as the sparse paths: at threshold 0.007813 the
    tie pair must be KEPT by every strategy with the HALF_UP value."""
    # |a| = 65 bigrams, |b| = 64, sharing exactly the bigram "s t":
    # union 128, intersection 1 -> jaccard = 1/128 (a dyadic tie)
    a = "s t " + " ".join(f"a{i}" for i in range(64))
    b = " ".join(f"b{i}" for i in range(63)) + " s t"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id bigint, text string")
    t = 0.007813
    for kw in (
        {},  # dense (tiny incidence matrix)
        {"dense_bytes_limit": 0, "sparse_strategy": "postings"},
        {"dense_bytes_limit": 0, "sparse_strategy": "prefix"},
    ):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in D.jaccard_pairs(df, n=2, threshold=t, **kw).collect()
        }
        assert got == {(1, 2): 0.007813}, (kw, got)


_NAME = st.text(alphabet="ab_", min_size=0, max_size=6)


def _lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(names=st.lists(_NAME, min_size=2, max_size=10))
def test_deletion_blocking_matches_brute_force_levenshtein(spark, names):
    from lichess_event_stream_watcher_spark.operators.fuzzy import edit_distance_pairs

    df = driver_tier_df(spark, [(n,) for n in names], "username string")
    runs = on_each_tier(
        spark,
        lambda: {
            (r.name_a, r.name_b, r.dist)
            for r in edit_distance_pairs(df, "username").collect()
        },
    )
    uniq = sorted(set(names))
    want = {
        (a, b, 1)
        for i, a in enumerate(uniq)
        for b in uniq[i + 1 :]
        if _lev(a, b) == 1
    }
    for tier, got in runs.items():
        assert got == want, (tier, names)


def test_quantize_int8_roundtrip_bound_property(spark):
    """Property: for random non-zero vectors, per-element dequantization
    error is < scale/127 + ulp slack, n_sat counts only absmax-magnitude
    hits, and recon_err matches a Python recomputation of the identical
    floor-quantization."""
    import math
    import random

    from lichess_event_stream_watcher_spark.operators.similarity import quantize_int8

    rng = random.Random(7)
    rows = []
    for i in range(40):
        d = rng.choice([4, 8, 16])
        rows.append((i, [rng.uniform(-10, 10) for _ in range(d)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in quantize_int8(df).collect()}
    for i, v in rows:
        s = max(abs(x) for x in v) or 1.0
        codes = [math.floor(x / s * 127.0) for x in v]
        err = math.sqrt(sum((x - c * s / 127.0) ** 2 for x, c in zip(v, codes)))
        assert got[i].scale == round(s, 6)
        assert got[i].n_sat == sum(1 for c in codes if abs(c) == 127)
        assert abs(got[i].recon_err - err) < 1e-6
        # every element's dequant error is below one quantization step
        assert all(abs(x - c * s / 127.0) <= s / 127.0 + 1e-12 for x, c in zip(v, codes))


def test_bloom_no_false_negatives_property(spark):
    """Property: across random key sets and filter sizes, members NEVER
    report definitely_new (the Bloom guarantee the admission path relies
    on for correctness)."""
    import random

    from lichess_event_stream_watcher_spark.operators.dedup import (
        bloom_filter_words,
        bloom_probe,
    )

    rng = random.Random(11)
    for m_bits, k_hashes in ((1 << 12, 3), (1 << 14, 5)):
        keys = rng.sample(range(10**9), 300)
        corpus = spark.createDataFrame([(k,) for k in keys[:200]], "key long")
        batch = spark.createDataFrame([(k,) for k in keys], "key long")
        words = bloom_filter_words(corpus, "key", m_bits=m_bits, k_hashes=k_hashes)
        out = {r.key: r.maybe_present for r in bloom_probe(
            batch, words, "key", m_bits=m_bits, k_hashes=k_hashes
        ).collect()}
        assert all(out[k] for k in keys[:200]), "false negative"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=_CORPUS)
def test_threshold_fanout_matches_per_threshold_brute_force(spark, texts):
    """The multi-threshold fan-out (dedup_threshold_sensitivity's core):
    explode each scored pair into every threshold it survives, count
    pairs as count/2 and docs as distinct over stacked ids — must equal
    a per-threshold brute-force recount on adversarial corpora (empty
    docs, exact dups, boundary-similarity pairs)."""
    from pyspark.sql import functions as F

    df = driver_tier_df(spark, list(enumerate(texts)), "doc_id bigint, text string")
    thresholds = (100, 300, 500, 900)

    def fanout():
        pairs = D.jaccard_pairs(df, n=2, threshold=0.1)
        th = F.array(*[F.lit(t) for t in thresholds])
        surviving = F.filter(
            th, lambda t: F.col("jaccard") >= t.cast("double") / F.lit(1000.0)
        )
        rows = pairs.select(
            F.explode(surviving).alias("t"), "id_a", "id_b"
        ).select("t", F.explode(F.array("id_a", "id_b")).alias("id"))
        return {
            r.t: (r.np, r.nd)
            for r in rows.groupBy("t")
            .agg(
                F.floor(F.count("*") / 2).cast("bigint").alias("np"),
                F.countDistinct("id").cast("bigint").alias("nd"),
            )
            .collect()
        }

    runs = on_each_tier(spark, fanout)
    base = _brute_force(texts, threshold=0.1)
    for t in thresholds:
        keep = [(a, b) for a, b, j in base if j >= t / 1000.0]
        docs = {x for p in keep for x in p}
        want = (len(keep), len(docs))
        for tier, got in runs.items():
            assert got.get(t, (0, 0)) == want, (tier, t, texts)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=_CORPUS)
def test_band_sweep_matches_hashlib_brute_force(spark, texts):
    """The whole MinHash chain — per-seed md5 signatures, band slicing,
    band_sig hashing, bucket-local pairs — against an independent
    hashlib twin, for every sweep config. Pins the signature semantics
    all four banding oracles certify (md5 of 'seed|shingle', lexicographic
    hex min, comma-joined band digests) on corpora with empty docs and
    exact duplicates."""
    import hashlib

    def shingles(t):
        toks = [w for w in re.split(r"\s+", t.strip().lower()) if w]
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    sigs = {}
    for i, t in enumerate(texts):
        sh = shingles(t)
        if sh:
            sigs[i] = [min(md5(f"{seed}|{g}") for g in sh) for seed in range(16)]
    want = {}
    for b in (2, 4, 8):
        r = 16 // b
        buckets = {}
        for i, sig in sigs.items():
            for bi in range(b):
                key = (bi, md5(",".join(sig[bi * r : bi * r + r])))
                buckets.setdefault(key, []).append(i)
        want[b] = {
            (x, y)
            for mem in buckets.values()
            for x in mem
            for y in mem
            if x < y
        }
    df = driver_tier_df(spark, list(enumerate(texts)), "doc_id bigint, text string")

    def sweep():
        got = {}
        for row in D.lsh_band_sweep(df, band_counts=(2, 4, 8), k=16, n=2).collect():
            got.setdefault(row.n_bands, set()).add((row.id_a, row.id_b))
        return got

    for tier, got in on_each_tier(spark, sweep).items():
        for b in (2, 4, 8):
            assert got.get(b, set()) == want[b], (tier, b, texts)


def test_dense_distributed_frontend_matches_pdf_tier(spark, sf_dir):
    """Round-10 pin for the small-corpus fast tier: the four dense-gated
    operators must produce identical rows through the pdf tier (one Arrow
    collect + driver factorize, what every test-sized corpus takes) and
    the big-input distributed front-end (HLL probe + vocabulary-indexed
    collect), which only arms past the `lesw.smallCorpusCacheBytes`
    estimate gate — the conf toggle is how the at-scale shape stays
    covered."""
    from lichess_event_stream_watcher_spark import testdata
    from lichess_event_stream_watcher_spark.operators import text as X

    docs = testdata.load(spark, sf_dir, "documents")
    new = docs.filter("doc_id % 2 = 1")
    old = docs.filter("doc_id % 2 = 0")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    runs = {
        "self": lambda: D.jaccard_pairs(docs, n=2, threshold=0.5),
        "containment": lambda: D.containment_pairs(docs, n=2, threshold=0.8),
        "between": lambda: D.jaccard_pairs_between(new, old, n=2, threshold=0.5),
        "tf_cosine": lambda: X.tf_cosine_pairs(docs, threshold=0.5),
    }
    got_pdf = {k: rows(f()) for k, f in runs.items()}
    with forced_distributed(spark):
        got_dist = {k: rows(f()) for k, f in runs.items()}
    for k in runs:
        assert got_pdf[k] == got_dist[k], k
    assert got_pdf["self"], "fixture produced no pairs — the pin is vacuous"


def test_lsh_and_components_distributed_match_pdf_tier(spark, sf_dir):
    """Round-10 pin for the LSH + connected-components small-corpus tiers:
    driver-numpy signatures/banding/bucket pairs (what every test-sized
    corpus takes) and the distributed bucket-local explosion / min-label
    fixpoints (armed by the `lesw.smallCorpusCacheBytes` toggle) must
    produce identical rows — the conf toggle is how the at-scale shape
    stays covered."""
    from lichess_event_stream_watcher_spark import testdata

    docs = testdata.load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, n=2, threshold=0.5)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    from lichess_event_stream_watcher_spark import testdata as _td
    from lichess_event_stream_watcher_spark.operators import fuzzy as FZ

    signups = _td.signups_df(spark, sf_dir)
    runs = {
        "lsh_b4": lambda: D.lsh_candidate_pairs(docs, k=16, bands=4, n=2),
        "lsh_b8": lambda: D.lsh_candidate_pairs(docs, k=16, bands=8, n=2),
        "sweep": lambda: D.lsh_band_sweep(docs, band_counts=(2, 4, 8), k=16, n=2),
        "components": lambda: D.dup_components(docs, pairs),
        "components_star": lambda: D.dup_components_star(docs, pairs),
        "fuzzy": lambda: FZ.edit_distance_pairs(signups, "username"),
    }
    got_pdf = {k: rows(f()) for k, f in runs.items()}
    with forced_distributed(spark):
        got_dist = {k: rows(f()) for k, f in runs.items()}
    for k in runs:
        assert got_pdf[k] == got_dist[k], k
    assert got_pdf["lsh_b8"], "fixture produced no candidates — vacuous pin"
    assert any(i != c for i, c in got_pdf["components"]), "no clusters — vacuous"
    assert got_pdf["fuzzy"], "no distance-1 username pairs — vacuous pin"
