"""Property-based cross-check of every tf-cosine physical strategy against
a brute-force Python oracle on adversarial corpora: empty/one-token docs,
exact duplicates, hot-token-dominated pairs (the shape where a set-count
prefix bound would be INCOMPLETE for weighted cosine — similarity carried
by a single high-tf shared token), and skewed repetition. Stresses the
L2 suffix-norm prefix lemma end to end.

Hypothesis drives the corpus; Spark jobs per example are bounded by
deduplicate + small sizes (each example runs 3 strategies over <=10 docs).
Each example runs on a pandas-built frame twice: once through the driver
tier, once forced to the distributed shapes.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from conftest import driver_tier_df, on_each_tier

from lichess_event_stream_watcher_spark.operators.text import tf_cosine_pairs

# 'the' is drawn ~5x more often: a genuine Zipf head token
_WORDS = ["the"] * 5 + ["cat", "sat", "on", "mat", "dog", "ran", "x1", "y2"]
_DOC = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=14).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=2, max_size=10)


def _brute_force(texts, threshold):
    tfs = {
        i: Counter(w for w in re.split(r"\s+", t.strip().lower()) if w)
        for i, t in enumerate(texts)
    }
    out = set()
    for a in tfs:
        for b in tfs:
            if a >= b or not tfs[a] or not tfs[b]:
                continue
            dot = sum(tfs[a][w] * tfs[b][w] for w in tfs[a].keys() & tfs[b].keys())
            if dot == 0:
                continue  # pairs sharing no token are absent, not 0.0
            na2 = sum(v * v for v in tfs[a].values())
            nb2 = sum(v * v for v in tfs[b].values())
            cos = round(dot / math.sqrt(na2 * nb2), 6)
            if cos >= threshold:
                out.add((a, b, cos))
    return out


@pytest.mark.parametrize("strategy", ["dense", "postings", "prefix"])
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=_CORPUS, threshold=st.sampled_from([0.3, 0.6, 0.85]))
def test_tf_cosine_strategy_matches_brute_force(spark, strategy, texts, threshold):
    df = driver_tier_df(spark, list(enumerate(texts)), "doc_id long, text string")
    kwargs = {
        "dense": {},  # tiny vocab always passes the dense gate
        "postings": {"dense_vocab_limit": 0, "sparse_strategy": "postings"},
        "prefix": {"dense_vocab_limit": 0, "sparse_strategy": "prefix"},
    }[strategy]
    runs = on_each_tier(
        spark,
        lambda: {
            (r.id_a, r.id_b, r.cos_sim)
            for r in tf_cosine_pairs(df, threshold=threshold, **kwargs).collect()
        },
    )
    want = _brute_force(texts, threshold)
    for tier, got in runs.items():
        assert got == want, (tier, strategy, texts)


def test_lang_id_packed_form_matches_naive_argmax(spark):
    """lang_id_bound (scores bound once in a transform lambda, the fused-
    filter form) and lang_known (the flat gate predicate) must be
    value-identical to the plain when-chain lang_id across marker mixes,
    ties, case, and whitespace."""
    import itertools

    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators.text import (
        LANG_MARKERS,
        lang_id,
        lang_id_bound,
        lang_known,
    )

    markers = [m.strip() for ms in LANG_MARKERS.values() for m in ms]
    texts = [" ".join(c) for c in itertools.combinations(markers, 2)]
    texts += ["", "  ", "zzz", "THE  DER", "el el le le", None]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        lang_id_bound(F.col("text")).alias("packed"),
        lang_id(F.col("text")).alias("naive"),
        lang_known(F.col("text")).alias("known"),
    ).collect()
    for r in rows:
        assert r.packed == r.naive, (r.packed, r.naive)
        # FILTER semantics: lang_known(NULL) is NULL where lang_id(NULL)
        # is 'und' (the when-chain's otherwise fires on the null
        # condition) — both drop the row in a gate, which is the only
        # context lang_known is for.
        assert bool(r.known) == (r.naive != "und"), (r.known, r.naive)
