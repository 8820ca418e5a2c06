"""Differential checks for the pipeline operators that have no SQL oracle
(ANN top-k, multimodal features) plus recall assertions for the approximate
dedup paths against their exact counterparts."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from lichess_event_stream_watcher_spark import testdata
from lichess_event_stream_watcher_spark.operators import curation as C
from lichess_event_stream_watcher_spark.operators import dedup as D
from lichess_event_stream_watcher_spark.operators import multimodal as M
from lichess_event_stream_watcher_spark.operators import similarity as S
from lichess_event_stream_watcher_spark.operators import text as X


def test_lsh_dedup_recovers_planted_near_dups(spark, sf_dir):
    """Every exact-Jaccard pair >= 0.9 (the planted near-dups) must surface
    as a MinHash-LSH candidate at b=4, r=4 (s-curve threshold ~0.71)."""
    docs = testdata.load(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in D.jaccard_pairs(docs, n=2, threshold=0.9).collect()
    }
    cand = {
        (r.id_a, r.id_b) for r in D.lsh_candidate_pairs(docs, k=16, bands=4, n=2).collect()
    }
    assert exact, "corpus should contain planted near-duplicates"
    missed = exact - cand
    assert not missed, f"LSH missed high-similarity pairs: {sorted(missed)[:5]}"


def test_simhash_near_dups_have_low_hamming(spark, sf_dir):
    docs = testdata.load(spark, sf_dir, "documents")
    sig = {r.id: r.simhash for r in D.simhash64(docs).collect()}
    pairs = D.jaccard_pairs(docs, n=2, threshold=0.9).collect()

    def hamming(a: str, b: str) -> int:
        return sum(bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b))

    assert all(len(s) == 16 for s in sig.values())
    # near-dup pairs must be markedly closer in Hamming space than the
    # background: the corpus vocabulary is tiny (~30 words), so per-bit sums
    # sit near zero and even similar docs flip some bits — compare means,
    # not a hard per-pair bound.
    near = [hamming(sig[p.id_a], sig[p.id_b]) for p in pairs]
    ids = sorted(sig)
    background = [
        hamming(sig[ids[i]], sig[ids[i + 1]]) for i in range(0, len(ids) - 1, 2)
    ]
    assert near, "corpus should contain planted near-duplicates"
    assert sum(near) / len(near) < 0.6 * (sum(background) / len(background))


def test_ann_lsh_matches_exact_within_bucket(spark, sf_dir):
    """Bucketed ANN returns the same ranking as brute force restricted to
    the bucket — and self-bucket membership guarantees >=0 candidates."""
    emb = testdata.load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") <= 7).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("anchor_vec")
    )
    approx = S.lsh_ann_topk(emb, anchors, [0, 1, 2], k=3).collect()
    exact = {
        (r.query_id, r.neighbor_id): r.rank
        for r in S.knn_brute_force(emb, [0, 1, 2], k=200).collect()
    }
    buckets = {r.vec_id: r.bucket for r in S.hyperplane_buckets(emb, anchors).collect()}
    for r in approx:
        # every approx neighbor shares the query's bucket and appears in the
        # exact ranking (ANN is a subset, never an invention)
        assert buckets[r.neighbor_id] == buckets[r.query_id]
        assert (r.query_id, r.neighbor_id) in exact


def test_multimodal_features_match_python(spark, sf_dir):
    docs = testdata.load(spark, sf_dir, "documents").limit(20)
    media = M.to_media_table(docs)
    feats = {r.doc_id: r for r in M.extract_features(media).collect()}
    for row in docs.collect():
        b = row.text.encode("utf-8")
        f = feats[row.doc_id]
        assert f.n_bytes == len(b)
        assert f.byte_mean == (sum(b) * 1_000_000 // len(b)) / 1e6
        hist = [0] * 8
        for byte in b:
            if byte < 128:
                hist[byte // 16] += 1
        assert list(f.byte_histogram_head) == hist


def test_media_manifest_md5_matches_hashlib(spark, sf_dir):
    docs = testdata.load(spark, sf_dir, "documents").limit(5)
    m = {r.doc_id: r for r in M.to_media_table(docs).collect()}
    for row in docs.collect():
        assert m[row.doc_id].meta.content_md5 == hashlib.md5(row.text.encode()).hexdigest()
        assert bytes(m[row.doc_id].payload) == row.text.encode()


def test_multimodal_resize_and_frames(spark, sf_dir):
    from lichess_event_stream_watcher_spark import testdata
    from lichess_event_stream_watcher_spark.operators import multimodal as M

    docs = testdata.load(spark, sf_dir, "documents").limit(20)
    media = M.to_media_table(docs)

    resized = M.resize_media(media, width=8, height=8).collect()
    assert len(resized) == 20
    for r in resized:
        assert len(r["payload"]) == 64
        assert r["meta"]["n_bytes"] == 64
        assert (r["meta"]["width"], r["meta"]["height"]) == (8, 8)

    frames = M.sample_frames(media, frame_bytes=100, every_n=2).collect()
    by_doc = {}
    for f in frames:
        by_doc.setdefault(f["doc_id"], []).append(f)
    src = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    for doc_id, fs in by_doc.items():
        idxs = sorted(f["frame_idx"] for f in fs)
        assert idxs == list(range(0, (len(src[doc_id]) + 99) // 100, 2))
        for f in fs:
            lo = f["frame_idx"] * 100
            assert bytes(f["frame_payload"]) == src[doc_id][lo:lo + 100]


def test_sketch_error_bounds(spark, sf_dir):
    """Raw estimate-vs-exact deltas (tighter than the registered query's
    boolean verdicts), plus the registered sketch_error_bounds row itself:
    every verdict column must be True so the driver hash check is stable."""
    import __spark_entry__ as entry

    from lichess_event_stream_watcher_spark import testdata
    from pyspark.sql import functions as F

    ev = testdata.load(spark, sf_dir, "events")
    raw = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("approx_median_value"),
        F.expr("percentile(value, 0.5D)").alias("exact_median_value"),
    ).collect()[0]
    # HLL++ at rsd=0.02: generous 5% assertion bound
    assert abs(raw["approx_users"] - raw["exact_users"]) <= max(
        2, 0.05 * raw["exact_users"]
    )
    # GK quantile sketch with accuracy 10000 on this cardinality: near-exact
    assert abs(raw["approx_median_value"] - raw["exact_median_value"]) <= max(
        1e-6, 0.02 * abs(raw["exact_median_value"])
    )
    row = entry.queries()["sketch_error_bounds"](spark, sf_dir).collect()[0]
    assert row["approx_users_ok"] is True and row["approx_median_ok"] is True
    assert row["exact_users"] == raw["exact_users"]


def test_jaccard_physical_paths_agree(spark, sf_dir):
    """dense-BLAS and inverted-index are two physical strategies for the
    same operator — identical output, with and without the frequent-shingle
    filter, regardless of which side of the byte gate the corpus lands on."""
    from lichess_event_stream_watcher_spark import testdata
    from lichess_event_stream_watcher_spark.operators import dedup as D

    docs = testdata.load(spark, sf_dir, "documents")

    def run(**kw):
        return sorted(
            (r.id_a, r.id_b, r.jaccard) for r in D.jaccard_pairs(docs, **kw).collect()
        )

    base = run()
    assert base == run(dense_vocab_limit=1)  # vocab gate forces inverted
    assert base == run(dense_bytes_limit=0)  # byte gate forces inverted
    # prefix filtering (hash-order AllPairs) is a third exact strategy
    assert base == run(dense_bytes_limit=0, sparse_strategy="prefix")
    filt = run(max_shingle_df=50)
    assert filt == run(max_shingle_df=50, dense_bytes_limit=0)


def test_jaccard_string_ids_both_paths(spark, sf_dir):
    """id_col keeps its source type on BOTH physical paths (dense used to
    hardcode bigint ids)."""
    from lichess_event_stream_watcher_spark import testdata
    from lichess_event_stream_watcher_spark.operators import dedup as D
    from pyspark.sql import functions as F

    docs = (
        testdata.load(spark, sf_dir, "documents")
        .limit(200)
        .withColumn("doc_id", F.concat(F.lit("d"), F.lpad(F.col("doc_id").cast("string"), 8, "0")))
    )
    dense = sorted((r.id_a, r.id_b, r.jaccard) for r in D.jaccard_pairs(docs).collect())
    inv = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in D.jaccard_pairs(docs, dense_bytes_limit=0).collect()
    )
    assert dense == inv
    assert all(isinstance(a, str) and isinstance(b, str) for a, b, _ in dense)


def test_lsh_bands_cover_all_seeds_when_nondivisible(spark, sf_dir):
    """bands that don't divide k: the final band absorbs the remainder, so
    two docs with identical signatures always share every band, and a
    difference ONLY in the last (remainder) seed changes the last band."""
    sigs = spark.createDataFrame(
        [(1, [f"h{i}" for i in range(10)]),
         (2, [f"h{i}" for i in range(10)]),
         (3, [f"h{i}" for i in range(9)] + ["DIFFERENT"])],
        "id bigint, sig array<string>",
    )
    b = D.lsh_bands(sigs, k=10, bands=4).collect()
    by_doc = {}
    for r in b:
        by_doc.setdefault(r.id, {})[r.band] = r.band_sig
    assert len(by_doc[1]) == 4
    assert by_doc[1] == by_doc[2]
    # docs 1 and 3 agree on bands 0..2 (seeds 0..8) and differ on the final
    # band, which must therefore include seed 9
    assert all(by_doc[1][i] == by_doc[3][i] for i in range(3))
    assert by_doc[1][3] != by_doc[3][3]


def test_dedup_paths_leave_no_persisted_rdds(spark, sf_dir):
    """Long-lived-session contract: repeated dedup/similarity calls must not
    accumulate storage memory (no leaked .cache()). Baseline-relative:
    earlier tests in the session may legitimately leave the single
    final-checkpoint RDD each iterative operator's RESULT is backed by."""
    from lichess_event_stream_watcher_spark.operators.util import persisted_rdd_ids

    docs = testdata.load(spark, sf_dir, "documents")
    baseline = persisted_rdd_ids(spark)
    for _ in range(2):
        D.jaccard_pairs(docs, n=2, threshold=0.5).count()
        D.lsh_candidate_pairs(docs, k=16, bands=4).count()
        D.simhash_near_dup_pairs(docs).count()
    assert persisted_rdd_ids(spark) - baseline == set()


def test_iterative_ops_unpersist_superseded_rounds(spark, sf_dir):
    """Each iterative operator (label propagation, star CC, k-core,
    PageRank) may leave AT MOST the final checkpoint its result reads from
    — every superseded round must have been unpersisted, or a long-lived
    driver accretes one persisted RDD per round per call."""
    from lichess_event_stream_watcher_spark.operators.graph import k_core, pagerank
    from lichess_event_stream_watcher_spark.operators.util import persisted_rdd_ids

    docs = testdata.load(spark, sf_dir, "documents").limit(200)
    pairs = D.jaccard_pairs(docs, n=2, threshold=0.5)
    nodes = docs.select("doc_id")
    for fn in (
        lambda: D.dup_components(nodes, pairs),
        lambda: D.dup_components_star(nodes, pairs),
        lambda: k_core(pairs, 2),
        lambda: pagerank(nodes.withColumnRenamed("doc_id", "id"), pairs, iters=4),
    ):
        before = persisted_rdd_ids(spark)
        fn().count()
        residue = persisted_rdd_ids(spark) - before
        assert len(residue) <= 1, residue


def test_cosine_near_dup_sharded_matches_single_shard(spark, sf_dir):
    """The sharded broadcast is a pure physical choice: forcing many tiny
    shards yields exactly the single-shard pair set; an oversized corpus is
    refused with a pointer to the ANN operators."""
    import pytest

    emb = testdata.load(spark, sf_dir, "embeddings")
    one = sorted(
        (r.id_a, r.id_b, r.cos_sim)
        for r in S.cosine_near_dup_pairs(emb, 0.9).collect()
    )
    many = sorted(
        (r.id_a, r.id_b, r.cos_sim)
        for r in S.cosine_near_dup_pairs(emb, 0.9, shard_bytes=4096).collect()
    )
    assert one == many
    with pytest.raises(ValueError, match="hyperplane_buckets"):
        S.cosine_near_dup_pairs(emb, 0.9, max_corpus_bytes=16)


def test_hyperplane_and_ivf_refuse_empty_dims(spark, sf_dir):
    import pytest

    emb = testdata.load(spark, sf_dir, "embeddings")
    empty_anchors = emb.filter("vec_id < 0").select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("anchor_vec")
    )
    with pytest.raises(ValueError, match="anchor"):
        S.hyperplane_buckets(emb, empty_anchors)
    with pytest.raises(ValueError, match="centroid"):
        S.nearest_cells(emb, empty_anchors)


def test_dataset_split_deterministic_and_total(spark, sf_dir):
    """Every doc gets exactly one split; assignment equals the Python md5
    recomputation (id-only property, stable under repartitioning)."""
    import hashlib

    from lichess_event_stream_watcher_spark.operators import curation as C

    docs = testdata.load(spark, sf_dir, "documents")
    rows = C.dataset_split(docs).select("doc_id", "split").collect()
    assert len(rows) == docs.count()
    for r in rows:
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()[0]
        expect = "train" if h < "c" else ("val" if h < "e" else "test")
        assert r.split == expect


def test_pack_sequences_conserves_tokens(spark, sf_dir):
    """Bin totals sum to the corpus token count and every bin holds >= 1
    doc; per-shard bins are contiguous from 0."""
    import pyspark.sql.functions as F

    from lichess_event_stream_watcher_spark.operators import curation as C
    from lichess_event_stream_watcher_spark.operators.text import normalize_text, tokens

    docs = testdata.load(spark, sf_dir, "documents")
    bins = C.pack_sequences(docs, budget=512).collect()
    total = docs.select(
        F.sum(F.size(tokens(normalize_text(F.col("text"))))).alias("t")
    ).first()["t"]
    assert sum(b.bin_tokens for b in bins) == total
    assert all(b.n_docs >= 1 for b in bins)
    by_shard = {}
    for b in bins:
        by_shard.setdefault(b.shard, []).append(b.bin)
    for shard, ids in by_shard.items():
        assert sorted(ids) == list(range(len(ids))), shard


def test_contamination_keeps_zero_overlap_docs(spark):
    """A test-split doc sharing no 5-gram with train still appears, with
    n_contaminated = 0."""
    import hashlib

    from lichess_event_stream_watcher_spark.operators import curation as C

    # find ids landing in train vs test under the md5 rule
    def split_of(i):
        h = hashlib.md5(str(i).encode()).hexdigest()[0]
        return "train" if h < "c" else ("val" if h < "e" else "test")

    train_id = next(i for i in range(100) if split_of(i) == "train")
    test_id = next(i for i in range(100) if split_of(i) == "test")
    df = spark.createDataFrame(
        [
            (train_id, "alpha beta gamma delta epsilon zeta"),
            (test_id, "one two three four five six seven"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.id: r for r in C.contamination_check(df, n=5).collect()}
    assert test_id in out
    assert out[test_id].n_contaminated == 0
    assert out[test_id].n_shingles == 3


def test_dup_components_path_triangle_singleton(spark):
    """Min-label propagation resolves a 4-node path (diameter > 1 hop), a
    triangle, and leaves the singleton alone."""
    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (4, 6)], "id_a bigint, id_b bigint"
    )
    comp = {r.id: r.comp for r in D.dup_components(nodes, pairs).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7}


def test_pack_sequences_shard_fanout_scales(spark, sf_dir):
    """shard_hex_chars=2 yields 2-char shards (up to 256) and conserves the
    same corpus token total as the 1-char sharding."""
    from lichess_event_stream_watcher_spark.operators import curation as C

    docs = testdata.load(spark, sf_dir, "documents")
    b1 = C.pack_sequences(docs, budget=512, shard_hex_chars=1).collect()
    b2 = C.pack_sequences(docs, budget=512, shard_hex_chars=2).collect()
    assert all(len(b.shard) == 2 for b in b2)
    assert len({b.shard for b in b2}) > len({b.shard for b in b1})
    assert sum(b.bin_tokens for b in b1) == sum(b.bin_tokens for b in b2)


def test_dup_components_pair_endpoint_missing_from_nodes(spark):
    """Pair endpoints absent from the nodes table are seeded too — the
    component minimum counts them and convergence waits for them."""
    nodes = spark.createDataFrame([(5,)], "doc_id bigint")
    pairs = spark.createDataFrame([(5, 3)], "id_a bigint, id_b bigint")
    comp = {r.id: r.comp for r in D.dup_components(nodes, pairs).collect()}
    assert comp == {3: 3, 5: 3}


def test_pii_redaction_order_and_counts(spark):
    """Emails redact before IPs (an IP-shaped email domain counts as the
    email, not an address); counts match redactions; UA-style dotted
    versions with 4 groups DO count as IPv4 (deterministic false positive,
    identical in both engines)."""
    from lichess_event_stream_watcher_spark.operators import pii as P

    rows = [
        (1, "mail bob@10.0.0.1.com from 192.168.1.5 ok"),
        (2, "Chrome/120.0.0.0 Safari/537.36"),
        (3, "no pii here"),
        (4, "a@b.io c@d.fr 8.8.8.8"),
    ]
    df = spark.createDataFrame(rows, "id bigint, line string")
    out = {r.id: r for r in P.scrub(df, "line", "id").collect()}
    assert out[1].redacted == "mail <EMAIL> from <IP> ok"
    assert (out[1].n_emails, out[1].n_ips) == (1, 1)
    assert out[2].redacted == "Chrome/<IP> Safari/537.36"
    assert (out[2].n_emails, out[2].n_ips) == (0, 1)
    assert out[3] .redacted == "no pii here"
    assert (out[3].n_emails, out[3].n_ips) == (0, 0)
    assert out[4].redacted == "<EMAIL> <EMAIL> <IP>"
    assert (out[4].n_emails, out[4].n_ips) == (2, 1)


def test_repetition_profile_flags(spark):
    """A long repetitive doc is dropped (top-bigram share too high); a
    diverse long doc keeps; sub-2-token docs vanish."""
    from lichess_event_stream_watcher_spark.operators import text as X

    diverse = " ".join(f"w{i}" for i in range(120))
    repeated = "spam ham " * 60
    rows = [(1, diverse), (2, repeated.strip()), (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in X.repetition_profile(df).collect()}
    assert set(out) == {1, 2}
    assert out[1].keep and not out[2].keep
    assert out[2].frac_top_bigram > 0.4
    assert out[1].n_tokens == 120 and out[1].n_bigrams == 119


def test_dup_components_star_matches_propagation(spark):
    """Large-star/small-star yields the identical component map as min-label
    propagation — exercised on a 40-node path (worst case for propagation:
    diameter 39, log-rounds for the star variant), a triangle, an isolated
    pair, and a singleton."""
    path_pairs = [(i, i + 1) for i in range(100, 139)]
    extra = [(300, 301), (200, 201), (201, 202), (200, 202)]
    pairs = spark.createDataFrame(path_pairs + extra, "id_a bigint, id_b bigint")
    node_ids = list(range(100, 140)) + [200, 201, 202, 300, 301, 999]
    nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id bigint")
    a = {r.id: r.comp for r in D.dup_components(nodes, pairs, max_iter=50).collect()}
    b = {r.id: r.comp for r in D.dup_components_star(nodes, pairs).collect()}
    assert a == b
    assert b[139] == 100 and b[202] == 200 and b[999] == 999 and b[301] == 300


def test_dup_components_star_seeds_missing_endpoints(spark):
    nodes = spark.createDataFrame([(5,)], "doc_id bigint")
    pairs = spark.createDataFrame([(5, 3)], "id_a bigint, id_b bigint")
    comp = {r.id: r.comp for r in D.dup_components_star(nodes, pairs).collect()}
    assert comp == {3: 3, 5: 3}


def test_pii_regex_differential_spark_vs_duckdb(spark):
    """The 'RE2-safe patterns evaluate identically' claim, fuzzed: 300
    seeded random strings over a PII-adversarial alphabet (@, dots, digits,
    boundaries) must redact and count identically in Spark's Java regex and
    DuckDB's RE2."""
    import random

    import duckdb

    from lichess_event_stream_watcher_spark.operators import pii as P

    rng = random.Random(42)
    alphabet = list("ab.Z9@ -_%+") + ["@b.co", "1.2.3.4", "10.0.0.999", "x@y", ".com", "127"]
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id bigint, line string")
    got = {
        r.id: (r.redacted, r.n_emails, r.n_ips)
        for r in P.scrub(df, "line", "id").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, line VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        i: (red, ne, ni)
        for i, red, ne, ni in con.execute(
            f"""SELECT id,
              regexp_replace(regexp_replace(line, '{P.EMAIL_RE}', '<EMAIL>', 'g'),
                             '{P.IPV4_RE}', '<IP>', 'g'),
              CAST(len(regexp_extract_all(line, '{P.EMAIL_RE}')) AS BIGINT),
              CAST(len(regexp_extract_all(
                   regexp_replace(line, '{P.EMAIL_RE}', '<EMAIL>', 'g'),
                   '{P.IPV4_RE}')) AS BIGINT)
            FROM t"""
        ).fetchall()
    }
    assert got == want


def test_kmeans_matches_numpy_twin(spark):
    """On a well-separated 2-D fixture, the distributed Lloyd's rounds land
    on the same centroids as a numpy twin of the same deterministic
    algorithm (md5-ranked init, rounded-cosine assignment)."""
    import hashlib

    import numpy as np

    from lichess_event_stream_watcher_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    blobs = [(10.0, 0.0), (0.0, 10.0), (-10.0, -10.0)]
    rows = []
    for b, (cx, cy) in enumerate(blobs):
        for j in range(20):
            i = b * 20 + j
            rows.append((i, [float(cx + rng.uniform(-1, 1)), float(cy + rng.uniform(-1, 1))]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {r.cent_id: np.array(r.cent_vec) for r in S.kmeans_fit(emb, k=3, iters=4).collect()}

    # numpy twin: same init ranking, same rounded-cosine assignment
    vecs = {i: np.array(v) for i, v in rows}
    seeds = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))[:3]
    cents = [np.array(v) for _, v in seeds]
    for _ in range(4):
        members: dict[int, list] = {c: [] for c in range(3)}
        for i, v in vecs.items():
            sims = [
                (round(float(v @ c) / float(np.sqrt((v @ v) * (c @ c))), 6), ci)
                for ci, c in enumerate(cents)
            ]
            best = max(sims, key=lambda t: (t[0], -t[1]))[1]
            members[best].append(v)
        cents = [
            np.mean(members[c], axis=0) if members[c] else cents[c] for c in range(3)
        ]
    for c in range(3):
        assert np.allclose(got[c], cents[c], atol=1e-9), (c, got[c], cents[c])


def test_ann_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Hamming-1 multi-probe candidates are a strict superset of the
    single-probe bucket, so multi-probe recall@k vs the exact kNN baseline
    can only improve — and everything either variant returns lies inside
    the multi-probe candidate space (subset of truth, never an
    invention)."""
    emb = testdata.load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") <= 7).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("anchor_vec")
    )
    qids = [0, 1, 2, 3, 4]
    k = 5
    exact = {}
    for r in S.knn_brute_force(emb, qids, k=k).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    single = S.lsh_ann_topk(emb, anchors, qids, k=k).collect()
    multi = S.lsh_ann_topk_multiprobe(emb, anchors, qids, k=k).collect()
    assert recall(multi) >= recall(single)
    big = S.lsh_ann_topk_multiprobe(emb, anchors, qids, k=10_000).collect()
    big_pairs = {(r.query_id, r.neighbor_id) for r in big}
    assert {(r.query_id, r.neighbor_id) for r in single} <= big_pairs
    assert {(r.query_id, r.neighbor_id) for r in multi} <= big_pairs


def test_paragraph_dedup_edge_cases(spark):
    """All-boilerplate docs come back with empty text (not dropped);
    unique paragraphs keep their original order; min_df bounds the
    blocklist to genuinely repeated paragraphs; whitespace-padded copies
    are one exact-dedup group."""
    rows = [
        (1, "alpha beta. shared footer. gamma delta"),
        (2, "epsilon zeta. shared footer"),
        (3, "shared footer"),           # nothing unique -> empty
        (4, "solo paragraph stays"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.id: r for r in D.paragraph_dedup(df, min_df=2).collect()}
    assert got[1].clean_text == "alpha beta. gamma delta"
    assert got[1].n_paras_kept == 2
    assert got[2].clean_text == "epsilon zeta"
    assert got[3].clean_text == "" and got[3].n_paras_kept == 0
    assert got[4].clean_text == "solo paragraph stays"
    assert set(got) == {1, 2, 3, 4}

    # whitespace collapses before the trim, so tab- and newline-padded
    # copies share one exact-dedup fingerprint group
    padded = spark.createDataFrame(
        list(enumerate(["data scan", "\tdata  scan", "DATA scan\n"])),
        "doc_id bigint, text string",
    )
    groups = D.exact_dedup_groups(padded).collect()
    assert [(g.keep_id, g.n_dups) for g in groups] == [(0, 3)]


def test_serving_topk_equals_plain_window(spark, sf_dir):
    """The threshold-pruned serving top-k must return EXACTLY what the
    per-query rank window it replaced returned — same neighbors, same
    scores, same ranks — on an adversarial frame with duplicate scores
    (id tie-breaks), negative/zero scores (the -score key), and a query
    whose candidate count is below k. Both directions (similarity
    descending, distance ascending) are checked."""
    from pyspark.sql import Window

    rows = []
    for q in range(3):
        n = [40, 17, 3][q]  # query 2 has fewer candidates than k
        for i in range(n):
            score = float((i * 7 + q) % 11 - 5) / 4.0  # dup/neg/zero scores
            rows.append((q, i + 100, score))
    df = spark.createDataFrame(
        rows, "query_id bigint, neighbor_id bigint, score double"
    )
    k = 5
    for desc in (True, False):
        got = S._serving_topk(df, "score", k, descending=desc).collect()
        order = [F.desc("score"), F.asc("neighbor_id")] if desc else [
            F.asc("score"), F.asc("neighbor_id")
        ]
        w = Window.partitionBy("query_id").orderBy(*order)
        want = (
            df.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank")
            .collect()
        )
        key = lambda r: (r.query_id, r.rank)
        assert sorted(got, key=key) == sorted(want, key=key), desc


def test_serving_topk_excludes_null_and_nan_scores(spark, sf_dir):
    """Degenerate-score contract (similarity.serving_topk docstring): a
    NULL or NaN score — e.g. cosine 0/0 from a zero-norm embedding — is
    EXCLUDED from the served top-k rather than ranked first the way
    Spark's descending sort would place NaN in a raw row_number window.
    The clean candidates must come back with unchanged ranks, and a query
    whose every candidate is degenerate must return no rows."""
    rows = [
        (0, 100, 0.9),
        (0, 101, float("nan")),  # would out-sort 0.9 in a desc window
        (0, 102, 0.5),
        (0, 103, None),
        (1, 200, float("nan")),  # query 1: nothing servable
        (1, 201, None),
    ]
    df = spark.createDataFrame(
        rows, "query_id bigint, neighbor_id bigint, score double"
    )
    got = S.serving_topk(df, "score", 3).collect()
    assert [(r.query_id, r.neighbor_id, r.rank) for r in sorted(got, key=lambda r: r.rank)] == [
        (0, 100, 1),
        (0, 102, 2),
    ]


def test_pq_ann_recall_beats_noise_floor(spark, sf_dir):
    """PQ ADC top-10 recall vs exact cosine: deterministic training
    (md5-sample, first-k init) pins recall at ~0.46 on this corpus —
    assert a safe floor of 0.3, which is 15x the random baseline
    (10/500), plus the compression contract (16 codes, each < 16)."""
    emb = testdata.load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {}
    for r in S.knn_brute_force(emb, qids, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    books = S.pq_fit(emb, m=16, k=16)
    codes = S.pq_encode(emb, books).collect()
    assert all(len(r.codes) == 16 and all(0 <= c < 16 for c in r.codes) for r in codes)
    got = {}
    for r in S.pq_ann_topk(emb, books, qids, k=10).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
    assert hits / sum(len(v) for v in exact.values()) >= 0.3


def test_pq_encode_matches_scalar_reference(spark, sf_dir):
    """The Arrow-batched encode must be BIT-EQUAL to the scalar
    left-fold argmin chain the DuckDB oracle evaluates: same fold order
    (acc = (((0 + x1*c1) + x2*c2) + ...)), first-minimum tie break ==
    ascending code id. Checked on the real corpus plus an adversarial
    vector equidistant between two codewords (the tie must go to the
    LOWER code)."""
    emb = testdata.load(spark, sf_dir, "embeddings").limit(64)
    books = S.pq_fit(emb, m=16, k=16)

    def scalar_codes(vec):
        out = []
        for j, book in enumerate(books):
            sub = vec[j * 4 : (j + 1) * 4]
            best = None
            for c, cv in enumerate(book):
                acc = 0.0
                for x, y in zip(sub, cv):
                    acc += float(x) * float(y)
                nb = 0.0
                for y in cv:
                    nb += float(y) * float(y)
                d = -2.0 * acc + nb
                if best is None or d < best[0]:
                    best = (d, c)
            out.append(best[1])
        return out

    got = {r.vec_id: list(r.codes) for r in S.pq_encode(emb, books).collect()}
    rows = {r.vec_id: list(r.embedding) for r in emb.collect()}
    assert got.keys() == rows.keys()
    for vid, vec in rows.items():
        assert got[vid] == scalar_codes(vec), vid
    # adversarial tie: a vector exactly between codewords 0 and 1 of every
    # subspace must encode to the LOWER code wherever the distances tie
    mid = []
    for book in books:
        mid.extend((float(a) + float(b)) / 2.0 for a, b in zip(book[0], book[1]))
    tie_df = spark.createDataFrame([(0, mid)], "vec_id bigint, embedding array<double>")
    tie_codes = S.pq_encode(tie_df, books).collect()[0].codes
    assert list(tie_codes) == scalar_codes(mid)


def test_pq_encode_null_and_nan_elements_yield_null_codes(spark, sf_dir):
    """Row-level NULL verdict for damaged embeddings: a NULL row, a short
    row, a row with a NULL element, and a row with a NaN element must ALL
    encode to NULL codes. The NULL-element case is the subtle one — Arrow
    delivers list<double> null slots as NaN inside the float64 batch, so
    an `x is None` check never fires; the encode validates via np.isnan
    on the converted batch (similarity.py) and this test pins that both
    arrival shapes share the verdict. A clean row in the same batch must
    still encode."""
    emb = testdata.load(spark, sf_dir, "embeddings").limit(32)
    books = S.pq_fit(emb, m=16, k=16)
    dim = 64
    clean = [float(i % 7) / 7.0 for i in range(dim)]
    withnull = list(clean)
    withnull[5] = None
    withnan = list(clean)
    withnan[5] = float("nan")
    df = spark.createDataFrame(
        [(0, clean), (1, None), (2, clean[:10]), (3, withnull), (4, withnan)],
        "vec_id bigint, embedding array<double>",
    )
    got = {r.vec_id: r.codes for r in S.pq_encode(df, books).collect()}
    assert got[0] is not None and len(got[0]) == 16
    for vid in (1, 2, 3, 4):
        assert got[vid] is None, f"vec {vid} should have NULL codes"


def test_frozen_artifact_pq_recall(spark, sf_dir):
    """The frozen-artifact serving queries (ann_pq_topk / ann_ivfpq_topk)
    must still beat the recall noise floor even though their codebooks
    were trained at a different scale (sf0.001 artifact serving the test
    corpus) — the artifact generalizes or it isn't a codebook."""
    import __spark_entry__ as entry

    emb = testdata.load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {}
    for r in S.knn_brute_force(emb, qids, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in entry.queries()["ann_pq_topk"](spark, sf_dir).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
    assert hits / sum(len(v) for v in exact.values()) >= 0.3
    assert entry.queries()["ann_ivfpq_topk"](spark, sf_dir).count() > 0


def test_ivfpq_candidates_come_from_probed_cells(spark, sf_dir):
    """IVF+PQ composition contract: every returned neighbor lives in one
    of its query's nprobe probed cells (candidate bounding is real), and
    results agree with PQ-over-the-same-candidates (the coarse stage only
    filters; it never changes scores)."""
    emb = testdata.load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    cents = S.kmeans_fit(emb, k=8, iters=3)
    books = S.pq_fit(emb, m=16, k=16)
    out = S.ivfpq_ann_topk(emb, cents, books, qids, k=5, nprobe=2).collect()
    assert out, "ivfpq returned nothing"
    cell_of = {
        r.vec_id: r.cent_id for r in S.nearest_cells(emb, cents, 1).collect()
    }
    probed = {}
    probe_rows = S.nearest_cells(
        emb.filter(F.col("vec_id").isin(qids)), cents, 2
    ).collect()
    for r in probe_rows:
        probed.setdefault(r.vec_id, set()).add(r.cent_id)
    for r in out:
        assert cell_of[r.neighbor_id] in probed[r.query_id], r


def test_pagerank_matches_numpy_twin(spark, sf_dir):
    """The distributed PageRank loop reproduces a dense numpy power
    iteration on the same graph to 1e-5 — same damping, same undirected
    expansion, same teleport form."""
    import numpy as np

    from lichess_event_stream_watcher_spark.operators.graph import pagerank

    docs = testdata.load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, n=2, threshold=0.5)
    got = {r.id: r.rank for r in pagerank(
        docs.select(F.col("doc_id").alias("id")), pairs, iters=10
    ).collect()}

    ids = sorted(got)
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    adj = [set() for _ in range(n)]
    for r in pairs.collect():
        adj[idx[r.id_a]].add(idx[r.id_b])
        adj[idx[r.id_b]].add(idx[r.id_a])
    rank = np.ones(n)
    for _ in range(10):
        new = np.full(n, 0.15)
        for u in range(n):
            if adj[u]:
                share = 0.85 * rank[u] / len(adj[u])
                for v in adj[u]:
                    new[v] += share
        rank = new
    for v, i in idx.items():
        assert abs(got[v] - rank[i]) < 1e-5, (v, got[v], rank[i])


def test_k_core_matches_python_peeling(spark, sf_dir):
    from lichess_event_stream_watcher_spark.operators.fuzzy import edit_distance_pairs
    from lichess_event_stream_watcher_spark.operators.graph import k_core

    signups = testdata.signups_df(spark, sf_dir)
    edges = edit_distance_pairs(signups, "username")
    pairs = [(r.name_a, r.name_b) for r in edges.collect()]
    for k in (2, 3, 5):
        got = {r.id for r in k_core(edges, k, "name_a", "name_b").collect()}
        adj = {}
        for x, y in pairs:
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        changed = True
        while changed:
            changed = False
            for v in [v for v, ns in adj.items() if len(ns) < k]:
                for u in adj.pop(v):
                    adj[u].discard(v)
                changed = True
        assert got == set(adj), (k, got ^ set(adj))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_containment_prefix_matches_bruteforce(spark):
    """The asymmetric-prefix candidate filter is exact: every directed pair
    the brute-force python computation finds must come back verified."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta"),          # fully inside 1's shingles
        (3, "gamma delta epsilon"),             # inside 1
        (4, "completely different words here"),
        (5, "alpha beta"),                      # single shingle, inside 1 and 2
    ]
    got = {
        (r.src_id, r.dst_id, r.containment)
        for r in D.containment_pairs(_docs(spark, rows), n=2, threshold=0.8).collect()
    }

    def sh(t):
        tk = t.split()
        return {f"{tk[i]} {tk[i+1]}" for i in range(len(tk) - 1)}

    sets = {i: sh(t) for i, t in rows}
    want = set()
    for a in sets:
        for b in sets:
            if a == b:
                continue
            c = round(len(sets[a] & sets[b]) / len(sets[a]), 6)
            if c >= 0.8:
                want.add((a, b, c))
    assert got == want, got ^ want


def test_containment_df_cap_drops_stop_shingle_only_pairs(spark):
    """Pinned recall semantics of max_shingle_df on containment: the cap
    prunes CANDIDATE GENERATION only, so a pair whose entire overlap is
    capped stop-shingles is silently absent from the capped output while
    pairs overlapping in rare shingles are unaffected. Capped and uncapped
    outputs are NOT interchangeable."""
    stop = "x y"
    rows = [
        (1, stop),                     # contained in 2 via the stop shingle only
        (2, f"{stop} c d"),
        (3, "r s t u"),                # contained pair via rare shingles
        (4, "r s t u v w"),
        (5, f"{stop} e1 f1"),          # df inflators for the stop shingle
        (6, f"{stop} e2 f2"),
        (7, f"{stop} e3 f3"),
        (8, f"{stop} e4 f4"),
    ]
    docs = _docs(spark, rows)
    uncapped = {
        (r.src_id, r.dst_id)
        for r in D.containment_pairs(docs, n=2, threshold=0.8).collect()
    }
    capped = {
        (r.src_id, r.dst_id)
        for r in D.containment_pairs(docs, n=2, threshold=0.8, max_shingle_df=3).collect()
    }
    assert (1, 2) in uncapped
    assert (1, 2) not in capped          # overlap was exclusively the capped shingle
    assert (3, 4) in uncapped and (3, 4) in capped  # rare-shingle pair survives
    # the cap never INVENTS pairs, and verification stays exact
    assert capped <= uncapped


def test_jaccard_df_cap_drops_stop_shingle_pairs(spark):
    """Pinned recall semantics of max_shingle_df on the postings Jaccard
    path: the cap REDEFINES the shingle sets, so a pair overlapping only in
    capped shingles disappears entirely (its docs may even end up with
    empty sets). Referenced from the dedup_jaccard_inverted registration."""
    stop = "x y"
    rows = [
        (1, stop),
        (2, stop),                     # exact dup of 1, via the stop shingle only
        (3, "r s t u"),
        (4, "r s t u"),                # exact dup of 3, rare shingles
        (5, f"{stop} e1 f1"),
        (6, f"{stop} e2 f2"),
        (7, f"{stop} e3 f3"),
        (8, f"{stop} e4 f4"),
    ]
    docs = _docs(spark, rows)
    kw = dict(n=2, threshold=0.5, dense_bytes_limit=0, sparse_strategy="postings")
    uncapped = {
        (r.id_a, r.id_b) for r in D.jaccard_pairs(docs, **kw).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in D.jaccard_pairs(docs, max_shingle_df=3, **kw).collect()
    }
    assert (1, 2) in uncapped
    assert (1, 2) not in capped
    assert (3, 4) in uncapped and (3, 4) in capped


def test_jaccard_prefix_rejects_df_cap(spark):
    """prefix strategy + max_shingle_df must raise, not silently fall back
    to a different physical strategy (ADVICE item)."""
    import pytest

    docs = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="prefix.*max_shingle_df|max_shingle_df"):
        D.jaccard_pairs(
            docs, sparse_strategy="prefix", max_shingle_df=5, dense_bytes_limit=0
        )


def test_shingle_index_param_mismatch_raises(spark, sf_dir, tmp_path):
    """A probe whose n-gram size disagrees with the saved index's recorded
    parameters fails loudly instead of silently returning near-empty
    results (ADVICE item)."""
    import pytest

    docs = testdata.load(spark, sf_dir, "documents").limit(50)
    table = "lesw_test_param_index"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    D.save_shingle_index(docs, table, n=2, buckets=4)
    # matching params: works
    ok = D.jaccard_pairs_against_index(docs.limit(5), table, n=2, threshold=0.5)
    assert ok.count() >= 0
    # mismatched n: loud error
    with pytest.raises(ValueError, match="shingle-index mismatch"):
        D.jaccard_pairs_against_index(docs.limit(5), table, n=3)
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_outliers_3sigma_large_magnitude_exact(spark):
    """The integer-micros reformulation stays exact (and agrees with
    DuckDB's int128 twin) at magnitudes where the old cross-multiplied
    decimal form exceeded decimal(38) and silently rounded."""
    import duckdb
    import pandas as pd

    from lichess_event_stream_watcher_spark.queries_analytics import (
        OUTLIERS_3SIGMA_ORACLE,
        outliers_3sigma,
    )

    base = 1_234_567_890.125
    # with n points the max attainable z-score is (n-1)/sqrt(n), so a
    # single planted outlier needs n >= ~11 to exceed 3 sigma
    vals = [base + (i % 3) - 1.0 for i in range(15)] + [base + 10_000_000.0]
    rows = [(i, "big", v) for i, v in enumerate(vals)]
    rows += [
        (100 + i, "small", v)
        for i, v in enumerate([2.0 + (i % 3) * 0.25 for i in range(15)] + [900.25])
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "value"])
    ev = spark.createDataFrame(pdf)

    got = {(r.event_id, r.value) for r in outliers_3sigma(ev).collect()}

    con = duckdb.connect()
    con.register("ev", pdf)
    want = {
        (r[0], r[2])
        for r in con.sql(OUTLIERS_3SIGMA_ORACLE.format(table="ev")).fetchall()
    }
    assert got == want
    # semantic check: exactly the far points are outliers
    assert {e for e, _ in got} == {15, 115}


def test_lexicon_and_gate_verdict_every_doc(spark):
    """Docs that produce zero tokens (null text) still receive explicit
    lexicon rows (n_tokens=0, keep=false) — the gate never silently skips
    a document (ADVICE item)."""
    from lichess_event_stream_watcher_spark.operators import text as X

    rows = [
        (1, "the quick brown fox jumps over the lazy dog the end"),
        (2, None),
        (3, "single"),
    ]
    docs = _docs(spark, rows)
    lex = {r.id: r for r in X.lexicon_coverage(docs, lexicon_size=5).collect()}
    assert set(lex) == {1, 2, 3}
    assert lex[2].n_tokens == 0 and lex[2].n_in_lex == 0
    assert lex[2].lex_ratio == 0.0 and lex[2].keep is False
    # repetition signal is absent for <2-token docs; the gate convention is
    # keep_repetition=false via the left join — mirror it here
    rep_ids = {r.doc_id for r in X.repetition_profile(docs).collect()}
    assert 2 not in rep_ids
    verdicts = {
        r.id: (r.keep and (r.id in rep_ids)) for r in X.lexicon_coverage(docs).collect()
    }
    assert set(verdicts) == {1, 2, 3}


def test_semantic_dedup_drops_planted_duplicate(spark, sf_dir):
    """An exact copy of vector 42 under a fresh higher id must land in the
    same cell and come back keep=false, while 42 itself stays kept; every
    input vector gets exactly one verdict row."""
    emb = testdata.load(spark, sf_dir, "embeddings")
    clone = emb.filter(F.col("vec_id") == 42).select(
        F.lit(9999).cast("bigint").alias("vec_id"),
        "embedding",
        "label",
    )
    cents = emb.filter(F.col("vec_id").between(8, 15)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    out = S.semantic_dedup(emb.unionByName(clone), cents, threshold=0.999)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == emb.count() + 1
    assert rows[9999].keep is False
    assert rows[42].keep is True
    assert rows[9999].cell == rows[42].cell


def test_quantize_int8_zero_vector_and_bounds(spark):
    """Zero vectors quantize to all-zero codes with scale pinned to 1 (no
    NaN); codes stay within [-127, 127] so the md5 is over genuine int8
    range; recon_err is bounded by the scalar-quantization error bound
    sqrt(d) * scale / 127."""
    import hashlib as H
    import math

    d = 8
    rows = [
        (1, [0.0] * d),
        (2, [0.5, -1.0, 0.25, 0.75, -0.125, 1.0, -0.5, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in S.quantize_int8(df).collect()}
    zero = out[1]
    assert zero.scale == 1.0 and zero.n_sat == 0 and zero.recon_err == 0.0
    assert zero.codes_md5 == H.md5(",".join(["0"] * d).encode()).hexdigest()
    v = out[2]
    # absmax element hits exactly +/-127; floor keeps magnitudes <= 127
    assert v.scale == 1.0
    assert v.n_sat >= 1
    assert v.recon_err <= math.sqrt(d) * v.scale / 127.0


def test_charlm_scores_corpus_like_above_junk(spark):
    """A doc written in the corpus's character distribution must score a
    higher mean bigram probability than line noise; sub-2-char docs get the
    explicit zero row."""
    from lichess_event_stream_watcher_spark.operators.text import charlm_score

    corpus = [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(20)]
    rows = corpus + [(100, "zxq jvk wqx qzj xkv"), (101, "a"), (102, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in charlm_score(df).collect()}
    assert len(out) == len(rows)
    assert out[0].avg_prob_q > out[100].avg_prob_q
    assert out[101].n_bigrams == 0 and out[101].avg_prob_q == 0 and out[101].ppl_proxy == 0
    assert out[102].n_bigrams == 0
    assert out[100].ppl_proxy > out[0].ppl_proxy


def test_temperature_mix_rates_monotone(spark):
    """Smallest source keeps everything (rate_q == quant); rates decrease
    with source size following sqrt(c_min/c); the sampled fraction lands
    near the rate."""
    from lichess_event_stream_watcher_spark.operators.curation import (
        temperature_mix_rates,
        temperature_mix_sample,
    )

    rows = [(i, "small") for i in range(50)] + [(1000 + i, "big") for i in range(800)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {r.source: r.rate_q for r in temperature_mix_rates(df).collect()}
    assert rates["small"] == 1_000_000
    assert rates["big"] == int((50 / 800) ** 0.5 * 1_000_000)
    kept = temperature_mix_sample(df).groupBy("source").count().collect()
    by_src = {r.source: r["count"] for r in kept}
    assert by_src["small"] == 50  # rate 1.0 keeps all
    # 800 draws at rate 0.25: expect ~200, allow generous hash-draw spread
    assert 120 <= by_src["big"] <= 280


def test_temperature_mix_filter_equals_sample_form(spark, sf_dir):
    """The filter form (map-side draw over the original frame, used by the
    curation pipeline) keeps EXACTLY the ids the projection form keeps —
    same rates, same seeded draw — and preserves every input column."""
    from lichess_event_stream_watcher_spark.operators.curation import (
        temperature_mix_filter,
        temperature_mix_sample,
    )

    docs = testdata.load(spark, sf_dir, "documents")
    sample_ids = {r.id for r in temperature_mix_sample(docs, source_col="lang").collect()}
    filtered = temperature_mix_filter(docs, source_col="lang")
    assert filtered.columns == docs.columns
    assert {r.doc_id for r in filtered.select("doc_id").collect()} == sample_ids

    # composability: an input already carrying a rate_q column (e.g. a
    # prior mix pass's output) must not collide with the broadcast rate
    # table's column — the helper joins it under an internal alias
    with_rate = docs.withColumn("rate_q", F.lit(7))
    refiltered = temperature_mix_filter(with_rate, source_col="lang")
    assert refiltered.columns == with_rate.columns
    assert {r.doc_id for r in refiltered.select("doc_id").collect()} == sample_ids


def test_epoch_shuffle_is_a_permutation_and_epoch_sensitive(spark, sf_dir):
    from lichess_event_stream_watcher_spark.operators.curation import epoch_shuffle

    docs = testdata.load(spark, sf_dir, "documents")
    n = docs.count()
    e0 = epoch_shuffle(docs, epoch=0)
    rows0 = e0.collect()
    assert len(rows0) == n
    assert len({r.id for r in rows0}) == n
    # dense rank per shard: per-shard max(ord) == count
    per_shard = (
        e0.groupBy("shard").agg(F.max("ord").alias("mx"), F.count("*").alias("c")).collect()
    )
    assert all(r.mx == r.c for r in per_shard)
    order0 = {r.id: (r.shard, r.ord) for r in rows0}
    order1 = {r.id: (r.shard, r.ord) for r in epoch_shuffle(docs, epoch=1).collect()}
    moved = sum(1 for i in order0 if order0[i] != order1[i])
    assert moved > n * 0.9, "changing epoch must reshuffle nearly everything"


def test_bloom_filter_no_false_negatives_and_low_fp(spark, sf_dir):
    """Every corpus member must probe maybe_present (Bloom's hard
    guarantee); non-members may false-positive but at well under the
    designed rate for 2^16 bits / 4 hashes at this cardinality; the word
    table stays within its m/32 row bound."""
    docs = testdata.load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    words = D.bloom_filter_words(corpus, "doc_id")
    assert words.count() <= (1 << 16) / 32
    out = {r.key: r for r in D.bloom_probe(docs, words, "doc_id").collect()}
    n_members = corpus.count()
    members = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert all(out[k].maybe_present for k in members), "false negative!"
    fps = [k for k in out if k not in members and out[k].maybe_present]
    n_non = len(out) - n_members
    # designed fp rate at 500 keys in 2^16 bits is ~1e-5; allow huge slack
    assert len(fps) <= max(1, n_non // 20), fps[:5]
    assert all(out[k].definitely_new == (not out[k].maybe_present) for k in out)


def test_bloom_probe_duplicate_keys_no_false_negatives(spark, sf_dir):
    """An admission batch containing the SAME key multiple times (the
    normal case at ingestion) must still report members maybe_present:
    the verdict aggregation has to be multiplicity-independent. Regression
    test for the sum(hit)==k form, which reported definitely_new for any
    member probed more than once."""
    docs = testdata.load(spark, sf_dir, "documents").limit(50)
    words = D.bloom_filter_words(docs, "doc_id")
    # probe each member 3x, plus 3x-duplicated certainly-absent keys
    batch = docs.select("doc_id").union(docs.select("doc_id")).union(
        docs.select("doc_id")
    )
    absent = docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"))
    batch = batch.union(absent).union(absent)
    out = {r.key: r for r in D.bloom_probe(batch, words, "doc_id").collect()}
    members = {r.doc_id for r in docs.select("doc_id").collect()}
    assert all(out[k].maybe_present for k in members), "duplicate-key false negative!"
    # each key appears once in the output regardless of batch multiplicity
    assert len(out) == len(members) * 2


def test_pagerank_quantized_matches_python_twin(spark, sf_dir):
    """The quantized fixpoint must equal a straight-Python integer
    recurrence exactly (no tolerance — that is the whole point), and stay
    within quantization noise of the float variant."""
    from lichess_event_stream_watcher_spark.operators.graph import (
        pagerank,
        pagerank_quantized,
    )

    docs = testdata.load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, n=2, threshold=0.5)
    nodes = docs.select(F.col("doc_id").alias("id"))
    got = {r.id: r.rank_q for r in pagerank_quantized(nodes, pairs, iters=10).collect()}

    ids = [r.id for r in nodes.collect()]
    edges = set()
    for r in pairs.collect():
        edges.add((r.id_a, r.id_b))
        edges.add((r.id_b, r.id_a))
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rq = {i: 1_000_000 for i in ids}
    for _ in range(10):
        sums = {i: 0 for i in ids}
        for s, d in edges:
            sums[d] += (rq[s] * 85) // (100 * deg[s])
        rq = {i: 150_000 + sums[i] for i in ids}
    assert got == rq

    fl = {r.id: r.rank for r in pagerank(nodes, pairs, iters=10).collect()}
    assert all(abs(got[i] / 1_000_000 - fl[i]) < 0.01 for i in ids)


def test_kmeans_quantized_matches_python_twin(spark, sf_dir):
    """The quantized Lloyd trajectory must equal a straight-Python integer
    recurrence EXACTLY (assignments and centroids both) — no tolerance."""
    import hashlib
    import math

    emb = testdata.load(spark, sf_dir, "embeddings")
    cents = S.kmeans_fit_quantized(emb, k=8, iters=3)
    got = {r.vec_id: r.cell for r in S.kmeans_cells_quantized(emb, cents).collect()}

    vecs = {
        r.vec_id: [math.floor(float(x) * 1e6) for x in r.embedding]
        for r in emb.select("vec_id", "embedding").collect()
    }
    order = sorted(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    ref_c = {c: list(vecs[order[c]]) for c in range(8)}

    def assign(v):
        return min(
            range(8), key=lambda c: (sum((a - b) ** 2 for a, b in zip(v, ref_c[c])), c)
        )

    for _ in range(3):
        groups = {}
        for i, v in vecs.items():
            groups.setdefault(assign(v), []).append(v)
        for c, vs in groups.items():
            ref_c[c] = [math.floor(sum(col) / len(vs)) for col in zip(*vs)]
    assert [list(c) for c in cents] == [ref_c[c] for c in range(8)]
    assert got == {i: assign(v) for i, v in vecs.items()}


def test_kmin_hashes_exact_vs_bruteforce(spark):
    """Threshold-pruned k-min must equal the brute-force k smallest
    distinct values per group — including duplicates, groups below k
    distinct, and the fewer-than-k-non-empty-salts fallback (n_salts just
    above k forces it on the small group)."""
    import random

    from lichess_event_stream_watcher_spark.operators.sketch import kmin_hashes

    rng = random.Random(7)
    rows = []
    vals = {"big": set(), "small": {5, 900_000_007}}
    while len(vals["big"]) < 500:
        vals["big"].add(rng.randrange(1_000_000_000))
    for g, vs in vals.items():
        for v in vs:
            for _ in range(rng.randrange(1, 4)):  # duplicates
                rows.append((g, v))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "g string, h bigint")
    for k, n_salts in [(16, 64), (16, 16), (64, 64)]:
        out = {
            r.g: list(r.ks)
            for r in kmin_hashes(
                df, "g", "h", k, hash_ceiling=1_000_000_000, n_salts=n_salts
            ).collect()
        }
        for g, vs in vals.items():
            assert out[g] == sorted(vs)[:k], (g, k, n_salts)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmin_hashes(df, "g", "h", 64, hash_ceiling=1, n_salts=8)


def test_grouped_topk_threshold_vs_bruteforce(spark):
    """Threshold-pruned generic top-k must equal brute-force per-group
    sorting — across a hot group, a sub-k group, multi-column lexicographic
    keys with ties on the first column, and the n_salts floor."""
    import random

    from lichess_event_stream_watcher_spark.operators.sketch import (
        grouped_topk_threshold,
    )

    rng = random.Random(3)
    rows = []
    for i in range(2000):  # hot group with duplicate first-key values
        rows.append(("hot", rng.randrange(50), i))
    for i in range(4):
        rows.append(("tiny", rng.randrange(50), i))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "g string, a bigint, id bigint")
    by_g = {}
    for g, a, i in rows:
        by_g.setdefault(g, []).append((a, i))
    for k, n_salts in [(10, 16), (10, 2048)]:
        out = grouped_topk_threshold(df, "g", ["a", "id"], k, n_salts=n_salts)
        got = {}
        for r in out.collect():
            got.setdefault(r.g, []).append((r.rk, r.a, r.id))
        for g, vals in by_g.items():
            want = [(rk + 1, a, i) for rk, (a, i) in enumerate(sorted(vals)[:k])]
            assert sorted(got[g]) == want, (g, k, n_salts)
    # descending: top-k LARGEST with the max-partial / lower-bound form
    for k in (3, 10):
        out = grouped_topk_threshold(
            df, "g", ["a", "id"], k, n_salts=64, descending=True
        )
        got = {}
        for r in out.collect():
            got.setdefault(r.g, []).append((r.rk, r.a, r.id))
        for g, vals in by_g.items():
            want = [
                (rk + 1, a, i)
                for rk, (a, i) in enumerate(sorted(vals, reverse=True)[:k])
            ]
            assert sorted(got[g]) == want, (g, k, "desc")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        grouped_topk_threshold(df, "g", ["a", "id"], 10, n_salts=4)


def test_grouped_exact_quantiles_vs_bruteforce(spark):
    """Two-pass bucketed quantiles must equal brute-force type-1 quantile
    picks — across bucket widths (forcing single- and many-bucket
    shapes), negatives, heavy ties, and groups of coprime sizes."""
    import random

    from lichess_event_stream_watcher_spark.operators.sketch import (
        grouped_exact_quantiles,
    )

    rng = random.Random(11)
    data = {
        "a": [rng.randrange(-500, 500) for _ in range(997)],
        "ties": [5] * 40 + [-7] * 13 + [123] * 3,
        "tiny": [42],
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "g string, x bigint")
    qs = [("p25", 1, 4), ("median", 1, 2), ("p75", 3, 4), ("p99", 99, 100)]
    for width in (7, 64, 100_000):
        out = {
            (r.g, r.q): (r.n, r.val)
            for r in grouped_exact_quantiles(
                df, "g", "x", qs, bucket_width=width
            ).collect()
        }
        for g, vs in data.items():
            s, n = sorted(vs), len(vs)
            for name, num, den in qs:
                rank = -(-num * n // den)  # ceil
                assert out[(g, name)] == (n, s[rank - 1]), (g, name, width)


def test_kmv_sketch_error_bound(spark, sf_dir):
    """KMV at k=64 must land within ~3/sqrt(k) (~38%, generous) of the
    exact distinct count for every event type, and the exact column must
    equal a direct count_distinct."""
    import __spark_entry__ as entry

    out = entry.queries()["kmv_distinct_sketch"](spark, sf_dir).collect()
    assert out
    ev = testdata.load(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()
    }
    for r in out:
        assert r.exact_users == exact[r.event_type]
        assert abs(r.est_users - r.exact_users) <= 0.38 * r.exact_users, r


def test_lang_id_form_discipline(spark):
    """Round-7 regression pin for the lang_id form split (reverses the
    round-6 pin, which bound the scores once EVERYWHERE and thereby put a
    CodegenFallback ArrayTransform into every standalone projection —
    text_profile regressed 3.1x; VERDICT r6 weak #1).

    Three forms, each pinned to its contract:
    - lang_id (projections): plain when-chain, NO higher-order function —
      ProjectExec codegen CSE binds the repeated score blocks, so the
      textual repetition is free and the subtree stays codegen'd.
    - lang_id_bound (fused filters needing the label): scores bound once,
      <= 30 regexp_replace copies (2 per marker x 12 markers + slack) —
      the janino-safe form, interpreted only in its own subtree.
    - lang_known (gates): flat occurrence sum > 0 — no when-chain, no
      HOF, <= 30 copies; fully codegen-able inside a fused filter.
    All three must agree on the same rows."""
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators.text import (
        lang_id,
        lang_id_bound,
        lang_known,
    )

    plain = lang_id(F.col("text"))._jc.toString()
    assert "transform(" not in plain, "projection form must not use a HOF"
    bound = lang_id_bound(F.col("text"))._jc.toString()
    assert bound.count("regexp_replace") <= 30, bound.count("regexp_replace")
    assert "transform(" in bound
    known = lang_known(F.col("text"))._jc.toString()
    assert known.count("regexp_replace") <= 30, known.count("regexp_replace")
    assert "transform(" not in known and "CASE WHEN" not in known
    # argmax honors precedence + the no-hit default, identically in both
    # label forms, and lang_known == (label != 'und')
    rows = [
        (1, "the cat of a hat the"),
        (2, "der hund und die katze"),
        (3, "zzz qqq"),
        (4, "the der"),  # tie at 1 hit each -> en precedence
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.lang, r.lang_b, r.known)
        for r in df.select(
            "doc_id",
            lang_id(F.col("text")).alias("lang"),
            lang_id_bound(F.col("text")).alias("lang_b"),
            lang_known(F.col("text")).alias("known"),
        ).collect()
    }
    expect = {1: "en", 2: "de", 3: "und", 4: "en"}
    for doc_id, (lang, lang_b, known_v) in got.items():
        assert lang == expect[doc_id], (doc_id, lang)
        assert lang_b == lang, (doc_id, lang_b)
        assert known_v == (lang != "und"), (doc_id, known_v)


def test_tf_cosine_separates_counts_from_sets(spark):
    """tf-cosine must distinguish documents Jaccard cannot: same token SET
    but different counts scores below 1.0, while an exact copy scores 1.0;
    the df cap drops pairs whose only shared tokens are stop tokens."""
    from lichess_event_stream_watcher_spark.operators.text import tf_cosine_pairs

    rows = [
        (1, "the cat sat"),
        (2, "the cat sat"),                # exact copy of 1
        (3, "the the the cat cat sat"),    # same set as 1, different counts
        (4, "dog runs fast the"),          # shares only 'the' with 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.cos_sim for r in tf_cosine_pairs(df, threshold=0.0).collect()}
    assert out[(1, 2)] == 1.0
    assert 0.0 < out[(1, 3)] < 1.0
    assert out[(1, 4)] > 0.0
    capped = {
        (r.id_a, r.id_b)
        for r in tf_cosine_pairs(df, threshold=0.0, max_token_df=3).collect()
    }
    # 'the' appears in all 4 docs -> capped out; (1,4) shared only 'the'
    assert (1, 4) not in capped
    assert (1, 2) in capped


def test_tf_cosine_strategies_agree(spark, sf_dir):
    """All THREE physical strategies are the same logical operator:
    identical pair sets and rounded cosines on the corpus (the tiny-vocab
    corpus drives the dense path by default; max_token_df high enough to
    drop nothing forces the postings path; dense_vocab_limit=0 pins the
    sparse prefix path). Checked at a loose threshold too so the prefix
    filter's candidate generation is stressed, not just the verify."""
    from lichess_event_stream_watcher_spark.operators.text import tf_cosine_pairs

    docs = testdata.load(spark, sf_dir, "documents")
    dense = {
        (r.id_a, r.id_b): r.cos_sim
        for r in tf_cosine_pairs(docs, threshold=0.8).collect()
    }
    postings = {
        (r.id_a, r.id_b): r.cos_sim
        for r in tf_cosine_pairs(docs, threshold=0.8, max_token_df=10**9).collect()
    }
    prefix = {
        (r.id_a, r.id_b): r.cos_sim
        for r in tf_cosine_pairs(
            docs, threshold=0.8, dense_vocab_limit=0, sparse_strategy="prefix"
        ).collect()
    }
    assert dense == postings == prefix
    assert dense, "corpus should contain high-tf-cosine pairs"


def test_tf_cosine_prefix_completeness_adversarial(spark):
    """Hand-built corpus aimed at the prefix filter's failure modes:

    - a pair whose entire similarity rides ONE hot (max-df) token — the
      Jaccard-style set-count prefix bound would prune it (set overlap 1
      < ceil(t * |set|)), the L2 suffix-norm bound must not;
    - skewed tf so the norm mass concentrates at the suffix end of the
      rarest-first order;
    - singleton-token docs (prefix must never be empty).

    Plus the parameter contract: prefix + max_token_df raises, unknown
    strategy raises."""
    import pytest as _pytest

    from lichess_event_stream_watcher_spark.operators.text import tf_cosine_pairs

    rows = [
        # docs 1/2: cosine ~0.917 driven almost entirely by hot token
        # 'the' (tf 10 each); their rare tokens are disjoint
        (1, "the " * 10 + "a1 a2 a3 a4 a5 a6 a7 a8 a9"),
        (2, "the " * 10 + "b1 b2 b3 b4 b5 b6 b7 b8 b9"),
        # exact copy pair with a single distinct token
        (3, "the the the"),
        (4, "the"),
        # a moderately-similar pair through mixed rare/hot mass
        (5, "the the a1 a2 a3 z9"),
        (6, "the the a1 a2 a3 y8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r.id_a, r.id_b): r.cos_sim
        for r in tf_cosine_pairs(
            df, threshold=0.5, dense_vocab_limit=0, sparse_strategy="postings"
        ).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in tf_cosine_pairs(
            df, threshold=0.5, dense_vocab_limit=0, sparse_strategy="prefix"
        ).collect()
    }
    assert got == want
    assert got[(1, 2)] >= 0.9  # the hot-token pair the set bound would lose
    assert got[(3, 4)] == 1.0  # singleton-token docs pair at exactly 1
    with _pytest.raises(ValueError, match="incompatible"):
        tf_cosine_pairs(df, sparse_strategy="prefix", max_token_df=5)
    with _pytest.raises(ValueError, match="unknown sparse_strategy"):
        tf_cosine_pairs(df, sparse_strategy="blas")


def test_tf_cosine_between_matches_self_join_cross_pairs(spark, sf_dir):
    """The incremental form must produce exactly the CROSS pairs of the
    self-join form (odd new vs even old, both orientations of id order),
    with identical rounded cosines; the corpus-df cap drops pairs whose
    only shared tokens are capped."""
    from lichess_event_stream_watcher_spark.operators.text import (
        tf_cosine_pairs,
        tf_cosine_pairs_between,
    )

    docs = testdata.load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    got = {
        (r.new_id, r.old_id): r.cos_sim
        for r in tf_cosine_pairs_between(new, old, threshold=0.6).collect()
    }
    full = {
        (r.id_a, r.id_b): r.cos_sim
        for r in tf_cosine_pairs(docs, threshold=0.6).collect()
    }
    want = {}
    for (a, b), v in full.items():
        if a % 2 == 1 and b % 2 == 0:
            want[(a, b)] = v
        elif b % 2 == 1 and a % 2 == 0:
            want[(b, a)] = v
    assert got == want
    assert got, "split corpus should contain cross near-dups"
    # cap sanity on a hand corpus: the new doc shares ONLY the hot token
    # 'the' (corpus df 2 > cap 1) with both corpus docs -> capped drops
    # both pairs, uncapped keeps them
    n2 = spark.createDataFrame([(1, "the aaa")], "doc_id long, text string")
    o2 = spark.createDataFrame(
        [(2, "the bbb"), (4, "the ccc")], "doc_id long, text string"
    )
    uncapped = {
        (r.new_id, r.old_id)
        for r in tf_cosine_pairs_between(n2, o2, threshold=0.1).collect()
    }
    capped = {
        (r.new_id, r.old_id)
        for r in tf_cosine_pairs_between(
            n2, o2, threshold=0.1, max_token_df=1
        ).collect()
    }
    assert uncapped == {(1, 2), (1, 4)}
    assert capped == set()


def test_tf_index_capped_probe_matches_between(spark, sf_dir):
    """A df-capped tf index stores post-cap norms; probing it with the
    SAME cap must reproduce tf_cosine_pairs_between under that cap
    (including the new-side norm contract: tokens outside the capped
    corpus vocabulary do not count toward na2)."""
    from lichess_event_stream_watcher_spark.operators import text as X

    # hand corpus: 'the' is a corpus-wide stop token (df over the cap),
    # rare tokens survive; new docs carry a token unseen in the corpus
    # (must not count toward na2 under the cap contract) — the synthetic
    # corpus can't exercise this (its 31 tokens all exceed any useful cap)
    old = spark.createDataFrame(
        [(2, "the aaa bbb"), (4, "the aaa ccc"), (6, "the ddd"), (8, "the eee")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "the aaa bbb zzz"), (3, "the ddd"), (5, "qqq rrr")],
        "doc_id long, text string",
    )
    cap = 3  # 'the' (df 4) capped out; aaa (2), bbb/ccc/ddd/eee (1) kept
    want = {
        (r.new_id, r.old_id, r.cos_sim)
        for r in X.tf_cosine_pairs_between(
            new, old, threshold=0.5, max_token_df=cap
        ).collect()
    }
    assert want, "capped corpus should still contain qualifying pairs"
    X.save_tf_index(old, "tf_idx_capped_t", buckets=4, max_token_df=cap)
    try:
        got = {
            (r.new_id, r.old_id, r.cos_sim)
            for r in X.tf_cosine_pairs_against_index(
                new, "tf_idx_capped_t", threshold=0.5, max_token_df=cap
            ).collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS tf_idx_capped_t")
    assert got == want


def test_tf_cosine_round_up_boundary_pair_survives_every_strategy(spark):
    """Round-6 regression pin for the dense block's pre-filter margin: a
    pair whose UNROUNDED cosine sits just below the threshold but ROUNDS
    UP to it (2/sqrt(6) = 0.8164965809... -> 0.816497) must be kept by
    all three strategies — the dense BLAS block once pre-filtered at
    threshold - 1e-9 and silently dropped exactly this pair while the
    sparse paths kept it. The margin must sit a full rounding grid step
    (1e-6) below the threshold; the exact Spark-side round decides."""
    from lichess_event_stream_watcher_spark.operators.text import tf_cosine_pairs

    df = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "aa bb")], "doc_id long, text string"
    )
    t = 0.816497  # == round(2/sqrt(6), 6), strictly above the unrounded cos
    for kwargs in (
        {},  # dense (vocab 3)
        {"dense_vocab_limit": 0, "sparse_strategy": "postings"},
        {"dense_vocab_limit": 0, "sparse_strategy": "prefix"},
    ):
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in tf_cosine_pairs(df, threshold=t, **kwargs).collect()
        }
        assert got == {(1, 2): 0.816497}, (kwargs, got)


def test_tf_cosine_prefix_randomized_equivalence(spark):
    """Randomized differential check (fixed seed): Zipf-ish token draws
    over 40 docs, prefix vs postings pair-for-pair at two thresholds."""
    import random

    from lichess_event_stream_watcher_spark.operators.text import tf_cosine_pairs

    rng = random.Random(6)
    vocab = [f"w{i}" for i in range(30)]
    weights = [1.0 / (i + 1) for i in range(30)]  # Zipf: w0 is a stop token
    rows = [
        (i, " ".join(rng.choices(vocab, weights=weights, k=rng.randint(1, 60))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.4, 0.85):
        want = {
            (r.id_a, r.id_b): r.cos_sim
            for r in tf_cosine_pairs(
                df, threshold=t, dense_vocab_limit=0, sparse_strategy="postings"
            ).collect()
        }
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in tf_cosine_pairs(
                df, threshold=t, dense_vocab_limit=0, sparse_strategy="prefix"
            ).collect()
        }
        assert got == want, f"threshold {t}: {len(got)} vs {len(want)}"


def test_chunk_documents_edges(spark):
    """Chunking edge cases: short doc -> one chunk; exact-boundary doc ->
    no empty trailing chunk; consecutive chunks overlap by exactly
    `overlap` tokens; reconstruction covers every token; overlap >=
    chunk_tokens raises."""
    import pytest as _pytest

    from lichess_event_stream_watcher_spark.operators.curation import chunk_documents

    toks120 = " ".join(f"t{i}" for i in range(120))
    toks112 = " ".join(f"t{i}" for i in range(112))  # 64 + 56 exactly -> 2 chunks
    rows = [(1, "short doc"), (2, toks120), (3, toks112), (4, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=64, overlap=8)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.id, []).append(r)
    assert 4 not in by_doc  # whitespace-only doc yields nothing
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_tokens == 2
    c2 = sorted(by_doc[2], key=lambda r: r.chunk_idx)
    assert [r.n_tokens for r in c2] == [64, 64]  # starts 0 and 56 -> 56..119
    first, second = c2[0].chunk_text.split(), c2[1].chunk_text.split()
    assert first[56:] == second[:8]  # the 8-token overlap
    assert set(first) | set(second) == set(toks120.split())
    c3 = sorted(by_doc[3], key=lambda r: r.chunk_idx)
    assert [r.n_tokens for r in c3] == [64, 56]
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_curate_corpus_end_to_end(spark, sf_dir, tmp_path):
    """The whole curation DAG composes: counts shrink monotonically
    through the destructive stages, outputs are PII-clean, every chunk's
    doc survived every gate, the parquet lands partitioned by split, and
    a re-run makes byte-identical decisions (full determinism)."""
    import re as _re

    from lichess_event_stream_watcher_spark.pipeline import curate_corpus

    docs = testdata.load(spark, sf_dir, "documents")
    out = str(tmp_path / "curated")
    chunks, counts = curate_corpus(docs, out_dir=out)
    assert (
        counts["input"]
        >= counts["exact_dedup"]
        >= counts["near_dedup"]
        >= counts["quality_gate"]
        >= counts["mix_sample"]
        > 0
    )
    assert counts["chunks"] >= counts["mix_sample"]  # chunking only explodes
    rows = chunks.collect()
    assert all(r.split in ("train", "val", "test") for r in rows)
    email_re = _re.compile(r"[\w.+-]+@[\w-]+\.[\w.]+")
    assert not any(email_re.search(r.chunk_text) for r in rows)
    # partitioned layout on disk
    written = spark.read.parquet(out)
    assert written.count() == counts["chunks"]
    assert set(d.name for d in (tmp_path / "curated").iterdir() if d.is_dir()) >= {
        "split=train"
    }
    # determinism: identical decisions on a re-run
    chunks2, counts2 = curate_corpus(docs)
    assert counts2 == counts
    assert sorted(
        (r.id, r.chunk_idx, r.chunk_text, r.split) for r in rows
    ) == sorted((r.id, r.chunk_idx, r.chunk_text, r.split) for r in chunks2.collect())
    chunks.unpersist()
    chunks2.unpersist()


def test_bpe_learn_matches_python_twin(spark):
    """bpe_learn's distributed merge loop must reproduce a pure-python
    reference BPE (greedy left-to-right merge application, count-desc /
    pair-asc tie-break) merge-for-merge, including overlapping-run
    behavior ('aaaa' -> 'aa aa') and multi-char symbol merges."""
    from collections import Counter

    from lichess_event_stream_watcher_spark.operators.text import bpe_learn

    texts = [
        "low low low low low",
        "lower lower newest newest newest newest",
        "widest widest widest",
        "aaaa aaaa banana",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string")

    def py_bpe(texts, n_merges):
        wc = Counter()
        for t in texts:
            for w in t.split():
                wc[w] += 1
        vocab = {tuple(w): n for w, n in wc.items()}
        merges = []
        for _ in range(n_merges):
            pc = Counter()
            for syms, n in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += n
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            (a, b), cnt = best
            merges.append((f"{a} {b}", cnt))
            new_vocab = {}
            for syms, n in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
            vocab = new_vocab
        return merges

    got = bpe_learn(df, n_merges=8)
    want = py_bpe(texts, 8)
    assert got == want, (got, want)


def test_bm25_ln_matches_python_twin(spark, sf_dir):
    """The ln-idf BM25 (rows-only for the driver) must match a from-
    scratch python float implementation score-for-score (1e-9 rel tol —
    JVM Math.log vs libm may differ in the last ulp) and rank-for-rank;
    the rare-term query must rank a 'dup'-containing doc first."""
    import math as _math
    from collections import Counter

    from lichess_event_stream_watcher_spark.operators.retrieval import bm25_topk
    from lichess_event_stream_watcher_spark.queries_pipeline import _BM25_QUERIES

    docs = testdata.load(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text").collect()
    toks = {
        r.doc_id: " ".join(r.text.lower().strip().split()).split() for r in rows
    }
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    out = bm25_topk(docs, _BM25_QUERIES, k=10, idf_mode="ln").collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))

    for qid, qs in _BM25_QUERIES.items():
        terms = list(dict.fromkeys(qs.lower().split()))
        dfs = {t: sum(1 for tk in toks.values() if t in tk) for t in terms}
        scores = {}
        for did, tk in toks.items():
            tf = Counter(tk)
            s = 0.0
            for t in terms:
                if tf[t] == 0 or dfs[t] == 0:
                    continue
                idf = _math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
                s += idf * (tf[t] * 2.2) / (
                    tf[t] + 1.2 * (1.0 - 0.75 + 0.75 * (len(tk) / avgdl))
                )
            if s > 0:
                scores[did] = s
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        got_q = sorted(got[qid])
        assert [d for _, d, _ in got_q] == [d for d, _ in want], qid
        for (_, _, gs), (_, ws) in zip(got_q, want):
            assert abs(gs - round(ws, 6)) <= 1e-6, (qid, gs, ws)

    # the 'dup stream' query's top doc must actually contain 'dup'
    top3 = next(d for r, d, _ in sorted(got[3]) if r == 1)
    assert "dup" in toks[top3]


def test_substring_dedup_vs_bruteforce(spark):
    """Removal semantics must match brute force: first (min (id, pos))
    occurrence of each duplicated n-gram survives, positions covered
    ONLY by non-first duplicated occurrences are cut, rebuilt text
    preserves order — across cross-doc dups, within-doc repeats, overlap
    between a kept first span and a later duplicate, and untouched docs."""
    from collections import Counter

    from lichess_event_stream_watcher_spark.operators.dedup import substring_dedup

    texts = {
        1: "a b c d e f g h tail one two three",
        2: "prefix words a b c d e f g h suffix",      # cross-doc dup of 1's span
        3: "x x x x x x x x x x x x",                  # within-doc repeats
        4: "all unique tokens without any duplication at all today now",
        5: "a b c d e f g h i j k l",                  # overlaps doc1's span
    }
    n = 8
    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    toks = {d: t.split() for d, t in texts.items()}
    occ = Counter()
    first = {}
    for d in sorted(toks):
        tk = toks[d]
        for i in range(len(tk) - n + 1):
            sh = " ".join(tk[i : i + n])
            occ[sh] += 1
            first.setdefault(sh, (d, i))
    want = {}
    for d, tk in toks.items():
        kept_cover, rm_cover = set(), set()
        for i in range(len(tk) - n + 1):
            sh = " ".join(tk[i : i + n])
            if occ[sh] >= 2:
                (kept_cover if first[sh] == (d, i) else rm_cover).update(
                    range(i, i + n)
                )
        rm = rm_cover - kept_cover
        clean = " ".join(t for i, t in enumerate(tk) if i not in rm)
        want[d] = (clean, len(tk), len(rm))
    got = {
        r.id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in substring_dedup(df, n=n).collect()
    }
    assert got == want, (got, want)
    assert got[4][2] == 0 and got[4][0] == texts[4]
    assert got[2][2] > 0  # cross-doc dup removed from the later doc


def test_dup_span_profile_vs_bruteforce(spark):
    """Duplicated-span coverage must match a brute-force python
    computation on a corpus with planted cross-doc spans, within-doc
    repeats, a fully-unique doc, and a doc shorter than n."""
    from collections import Counter

    from lichess_event_stream_watcher_spark.operators.dedup import dup_span_profile

    texts = {
        1: "the quick brown fox jumps over the lazy dog while rain falls",
        2: "intro words the quick brown fox jumps over the lazy dog end",
        3: "completely unique sentence with no overlap to anything else here",
        4: "tiny doc",
        5: "rep rep rep rep rep rep rep rep rep rep rep rep",  # within-doc repeats
    }
    n = 8
    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    toks = {d: t.split() for d, t in texts.items()}
    occ = Counter()
    for tk in toks.values():
        for i in range(len(tk) - n + 1):
            occ[" ".join(tk[i : i + n])] += 1
    want = {}
    for d, tk in toks.items():
        cov = set()
        for i in range(len(tk) - n + 1):
            if occ[" ".join(tk[i : i + n])] >= 2:
                cov.update(range(i, i + n))
        want[d] = (len(tk), len(cov), (1_000_000 * len(cov)) // len(tk))
    got = {
        r.id: (r.n_tokens, r.n_dup_tokens, r.dup_frac_q)
        for r in dup_span_profile(df, n=n).collect()
    }
    assert got == want, (got, want)
    assert got[3][1] == 0 and got[4][1] == 0
    assert got[5][1] == len(toks[5])  # the whole repeated doc is covered


def test_dsir_log_matches_python_twin_and_separates_target(spark, sf_dir):
    """The log-domain DSIR scorer must match a from-scratch python float
    implementation (1e-6 after the round-6), and the semantics must hold:
    English (target) docs score higher on average than non-target docs,
    in BOTH modes."""
    import math as _math
    from collections import Counter

    import __spark_entry__ as entry

    docs = testdata.load(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "lang", "text").collect()
    B = 4096

    def bucket(w):
        import hashlib

        return int(hashlib.md5(f"dsir|{w}".encode()).hexdigest()[:12], 16) % B

    per_doc, is_en = {}, {}
    for r in rows:
        toks = [w for w in " ".join(r.text.lower().strip().split()).split() if w]
        per_doc[r.doc_id] = Counter(bucket(w) for w in toks)
        is_en[r.doc_id] = r.lang == "en"
    raw, tgt = Counter(), Counter()
    for did, c in per_doc.items():
        raw.update(c)
        if is_en[did]:
            tgt.update(c)
    n_r, n_t = sum(raw.values()), sum(tgt.values())
    want = {}
    for did, c in per_doc.items():
        s = sum(
            n
            * (
                _math.log((tgt[b] + 1) / (n_t + B))
                - _math.log((raw[b] + 1) / (n_r + B))
            )
            for b, n in c.items()
        )
        want[did] = round(s, 6)
    got = {
        r.id: r.score
        for r in entry.queries()["dsir_importance_log"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for did in got:
        assert abs(got[did] - want[did]) <= 1e-5, (did, got[did], want[did])
    # target separation in both modes
    for qname, col in [("dsir_importance_log", "score"), ("dsir_importance_q", "score_q")]:
        out = {r.id: r[col] for r in entry.queries()[qname](spark, sf_dir).collect()}
        en = [out[d] for d in out if is_en[d]]
        other = [out[d] for d in out if not is_en[d]]
        assert sum(en) / len(en) > sum(other) / len(other), qname


def test_pii_scrub_preserves_token_counts(spark, sf_dir):
    """The curation_pipeline_counts oracle counts chunks from UNscrubbed
    tokens — legal only because redaction placeholders contain no
    whitespace, so scrubbing never changes a doc's whitespace token
    count. Pin that invariant on text with embedded emails and IPs."""
    from lichess_event_stream_watcher_spark.operators import pii as P

    df = spark.createDataFrame(
        [
            (1, "contact me at bob@example.com or 10.1.2.3 today"),
            (2, "a@b.co x@y.io 1.2.3.4"),
            (3, "no pii here at all"),
        ],
        "doc_id bigint, text string",
    )
    scrubbed = df.join(P.scrub(df, "text", "doc_id"), "doc_id")
    for r in scrubbed.collect():
        assert len(r.text.split()) == len(r.redacted.split()), r


def test_repeated_ngrams_finds_planted_boilerplate(spark):
    """The boilerplate report must surface the planted shared footer with
    its exact doc frequency, rank deterministically on (n_docs desc,
    shingle asc), and never count a within-doc repeat as extra doc
    frequency."""
    from lichess_event_stream_watcher_spark.operators.dedup import repeated_ngrams

    footer = "all rights reserved by the example corp site"  # 8 tokens
    banner = "subscribe to our newsletter for weekly updates now"
    rows = []
    for d in range(6):
        rows.append((d, f"doc body {d} words vary here " + footer))
    for d in range(6, 9):
        rows.append((d, banner + f" trailing text {d}"))
    # within-doc repetition of the banner must NOT inflate its doc count
    rows.append((9, banner + " mid " + banner))
    rows.append((10, "entirely unrelated content with no duplication at all"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.shingle: (r.n_docs, r.rank) for r in repeated_ngrams(df, n=8, k=5).collect()}
    assert got[footer][0] == 6
    assert got[footer][1] == 1
    assert got[banner][0] == 4  # docs 6,7,8,9 — doc 9 counted once
    ranks = sorted(r for _, r in got.values())
    assert ranks == list(range(1, len(got) + 1))


def test_random_projection_matches_numpy_and_is_shuffle_free(spark):
    """Integer-exact JL projection: equals the numpy replay of the same
    frozen sign matrix on quantized components, and the plan holds ZERO
    Exchange (pure map projection)."""
    import numpy as np

    from lichess_event_stream_watcher_spark.operators.similarity import (
        random_projection,
        rp_signs,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id bigint, embedding array<float>",
    )
    out = random_projection(df, n_proj=4, dim=16, quant=1000)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    got = {(r.id, r.proj_id): r.proj_q for r in out.collect()}
    signs = np.array(rp_signs(4, 16), dtype="int64")
    q = np.floor(vecs.astype("float64") * 1000.0).astype("int64")
    for i in range(20):
        for j in range(4):
            assert got[(i, j)] == int((q[i] * signs[j]).sum())


def test_corpus_token_accounting_hand_check(spark, sf_dir):
    """Accounting identities on a constructed corpus: per-(source, lang)
    doc/token totals, exact-dup-adjusted uniques (min-doc_id keeps,
    including cross-source dups charged to the non-keeping source), and
    the micro-unit duplicated-token fraction."""
    from lichess_event_stream_watcher_spark.queries_pipeline import (
        corpus_token_accounting,
    )
    import lichess_event_stream_watcher_spark.testdata as td

    rows = [
        (0, "alpha beta gamma", "en", "srcA", 0),
        (1, "alpha beta gamma", "en", "srcA", 0),   # dup of 0, same cell
        (2, "alpha beta gamma", "en", "srcB", 0),   # dup of 0, other source
        (3, "delta epsilon", "en", "srcB", 0),
        (4, "Alpha  Beta   GAMMA", "de", "srcB", 0),  # dup after normalize
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    orig = td.load
    td.load = lambda spark, sf, name: df
    try:
        got = {
            (r.source, r.lang): r.asDict()
            for r in corpus_token_accounting(spark, sf_dir).collect()
        }
    finally:
        td.load = orig
    a = got[("srcA", "en")]
    assert (a["n_docs"], a["total_tokens"], a["n_docs_unique"], a["unique_tokens"]) == (
        2, 6, 1, 3,
    )
    assert a["dup_token_frac_q"] == 500000
    b = got[("srcB", "en")]
    assert (b["n_docs"], b["n_docs_unique"]) == (2, 1)  # doc 2 lost to doc 0
    d = got[("srcB", "de")]
    assert (d["n_docs_unique"], d["unique_tokens"]) == (0, 0)


def test_snapshot_diff_statuses(spark):
    """All four diff statuses on a constructed pair of snapshots, and
    whitespace-only edits must NOT count as changed (fingerprints are
    normalized)."""
    from lichess_event_stream_watcher_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "kept text"), (5, "ws   test")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(2, "gamma delta EDITED"), (3, "kept text"), (4, "brand new"), (5, "ws test")],
        "doc_id bigint, text string",
    )
    got = {r.id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {
        1: "removed",
        2: "changed",
        3: "unchanged",
        4: "added",
        5: "unchanged",  # normalized fingerprint ignores the whitespace run
    }


def _py_bpe(word: str, merges: list[str]) -> list[str]:
    """Independent textbook BPE encode (Sennrich et al.): per rank, one
    greedy left-to-right non-overlapping merge pass."""
    syms = list(word)
    for m in merges:
        a, b = m.split(" ")
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_apply_matches_textbook_bpe(spark):
    """The doubled-boundary replace chain must equal textbook greedy BPE
    on the hard cases: odd/even runs with a==b merges (where naive
    single-space replace diverges at run length 5), recursive multi-level
    merges, and merges whose symbols are prefixes of other symbols."""
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators.text import bpe_apply

    merges = ["a a", "s p", "sp a", "spa r", "spar k", "b c", "aa bc"]
    words = [
        "aaaaa", "aaaa", "aaa", "aa", "a",          # runs under "a a"
        "spark", "sparkle", "sparks", "spar",        # recursive merges
        "abcbc", "aabc", "aaaabc", "bcbcbc",         # mixed + prefix traps
        "zzz", "azaza", "xyaax",
    ]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r.word: r.pieces
        for r in df.select("word", bpe_apply(F.col("word"), merges).alias("pieces")).collect()
    }
    for w in words:
        assert got[w] == " ".join(_py_bpe(w, merges)), (w, got[w], _py_bpe(w, merges))


def test_bpe_apply_matches_textbook_bpe_exhaustive(spark):
    """Exhaustive differential over EVERY word of length <= 7 from the
    two-letter alphabet under merge lists with a==b ranks — the complete
    run-parity state space where boundary-consumption bugs live."""
    from itertools import product

    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators.text import bpe_apply

    merges = ["a a", "b b", "aa b", "a bb"]
    words = ["".join(p) for ln in range(1, 8) for p in product("ab", repeat=ln)]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r.word: r.pieces
        for r in df.select("word", bpe_apply(F.col("word"), merges).alias("pieces")).collect()
    }
    for w in words:
        assert got[w] == " ".join(_py_bpe(w, merges)), (w, got[w])


def test_rrf_fuse_semantics(spark):
    """RRF fusion: integer contributions 1e6 div (c + rank), union
    semantics for docs absent from one system, (rrf desc, id asc)
    tie-break."""
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id bigint, doc_id bigint, rank bigint",
    )
    den = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id bigint, doc_id bigint, rank bigint",
    )
    out = {
        r.doc_id: (r.rrf_q, r.rank)
        for r in rrf_fuse([lex, den], k=10).collect()
    }
    c = lambda rk: 1_000_000 // (60 + rk)
    # doc 11 appears in both systems (rank 2 + rank 1)
    assert out[11] == (c(2) + c(1), 1)
    assert out[10] == (c(1), 2)
    assert out[13] == (c(2), 3)
    assert out[12] == (c(3), 4)


def test_rrf_fuse_tie_breaks_by_doc_id(spark):
    from lichess_event_stream_watcher_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 20, 1), (1, 7, 1)],  # identical rank -> identical rrf_q
        "query_id bigint, doc_id bigint, rank bigint",
    )
    rows = rrf_fuse([lex], k=2).orderBy("rank").collect()
    assert [r.doc_id for r in rows] == [7, 20]


def test_pretok_regex_matches_python_re(spark):
    """The GPT-2-style pre-tokenizer pattern must tokenize identically in
    Spark's Java regex and Python's re (leftmost-first alternation) on
    adversarial strings; DuckDB RE2 parity is the driver oracle's job."""
    import re

    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.queries_pipeline import _PRETOK_PAT

    texts = [
        "the quick brown fox's 123 jumps, over-the lazy dog!!",
        "it's we're i'll 42x y3 -- a_b c;d",
        "don't 'quoted' x''y 'll",
        "a1b2c3 ... ,,;; '' 9",
        "one",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r.i: r.toks
        for r in df.select(
            "i", F.regexp_extract_all(F.col("t"), F.lit(_PRETOK_PAT), F.lit(0)).alias("toks")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == re.findall(_PRETOK_PAT, t), (t, got[i])


def test_ngram_novelty_counts(spark):
    """df==1 accounting on a corpus small enough to enumerate by hand;
    a doc below the shingle width is excluded entirely."""
    from lichess_event_stream_watcher_spark.operators.dedup import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "x y"), (4, "solo")],
        "doc_id long, text string",
    )
    rows = {
        r.id: (r.n_shingles, r.n_novel) for r in ngram_novelty(docs, n=2).collect()
    }
    # shingles: doc1 {a b, b c}, doc2 {a b, b d}, doc3 {x y}; "a b" has
    # df=2 so only the doc-local shingles are novel; doc4 has no bigrams
    assert rows == {1: (2, 1), 2: (2, 1), 3: (1, 1)}


def test_label_centroid_dispersion_matches_python_ieee(spark):
    """The micro-quantized cosine must equal a Python replay of the SAME
    expression tree (floor-quantized ints, truncating centroid division,
    1e6*(dot/(sqrt*sqrt))) — IEEE ops are correctly rounded, so all three
    engines (Spark, DuckDB, CPython) agree bit-for-bit."""
    import math

    from lichess_event_stream_watcher_spark.operators.similarity import (
        label_centroid_dispersion,
    )

    vecs = [
        (0, [1.0, 0.0, 0.25]),
        (0, [0.0, 1.0, -0.75]),
        (0, [0.5, 0.5, 0.1]),
        (1, [-0.3, 0.9, 0.0]),  # singleton: qv == centroid, cos ~ 1.0
    ]
    emb = spark.createDataFrame(
        [(i, l, v) for i, (l, v) in enumerate(vecs)],
        "vec_id long, label int, embedding array<float>",
    )
    got = {
        r.label: (r.n_vecs, r.mean_cos_micro, r.min_cos_micro, r.max_cos_micro)
        for r in label_centroid_dispersion(emb, dim=3).collect()
    }

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    import numpy as np

    by_label: dict[int, list[list[int]]] = {}
    for l, v in vecs:
        # the column is array<float>: replay the float32 round-trip the
        # parquet storage imposes before the double widening
        by_label.setdefault(l, []).append(
            [math.floor(float(np.float32(x)) * 1_000_000.0) for x in v]
        )
    want = {}
    for l, qvs in by_label.items():
        n = len(qvs)
        cent = [trunc_div(sum(col), n) for col in zip(*qvs)]
        nc = max(sum(c * c for c in cent), 1)
        cqs = []
        for qv in qvs:
            nq = max(sum(x * x for x in qv), 1)
            dot = sum(a * b for a, b in zip(qv, cent))
            cqs.append(
                math.floor(
                    1_000_000.0
                    * (float(dot) / (math.sqrt(float(nq)) * math.sqrt(float(nc))))
                )
            )
        want[l] = (n, trunc_div(sum(cqs), n), min(cqs), max(cqs))
    assert got == want


def test_label_centroid_confusion_orthogonal_labels(spark):
    """Two labels concentrated on disjoint axes must separate at cos ~ 0;
    the pair table is the strict upper triangle."""
    from lichess_event_stream_watcher_spark.operators.similarity import (
        label_centroid_confusion,
    )

    emb = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.0, 0.0]),
            (1, 0, [0.9, 0.1, 0.0]),
            (2, 1, [0.0, 1.0, 0.0]),
            (3, 1, [0.0, 0.9, 0.1]),
            (4, 2, [1.0, 0.0, 0.0]),  # same direction as label 0
        ],
        "vec_id long, label int, embedding array<float>",
    )
    rows = {
        (r.label_a, r.label_b): r
        for r in label_centroid_confusion(emb, dim=3).collect()
    }
    assert set(rows) == {(0, 1), (0, 2), (1, 2)}
    assert rows[(0, 1)].n_a == 2 and rows[(0, 1)].n_b == 2
    assert rows[(0, 1)].cos_micro < 120_000          # near-orthogonal
    assert rows[(0, 2)].cos_micro > 990_000          # near-identical


def test_token_budget_prefix_matches_naive_window(spark):
    """The bucketed two-pass must equal the naive per-source running-sum
    spec on a corpus with a hot source, and the kept set must be a hash
    PREFIX: a bigger budget only ever adds documents."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators.curation import (
        token_budget_prefix_sample,
    )
    from lichess_event_stream_watcher_spark.operators.text import (
        normalize_text,
        token_count,
    )

    docs = spark.createDataFrame(
        [(i, "hot" if i % 4 else "cold", "w " * (1 + i % 17)) for i in range(400)],
        "doc_id long, source string, text string",
    )

    def naive(f_num, f_den):
        base = docs.select(
            "source",
            "doc_id",
            token_count(normalize_text(F.col("text"))).alias("n_tokens"),
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
        w = Window.partitionBy("source").orderBy("h", "doc_id")
        tot = Window.partitionBy("source")
        cum = base.select(
            "source",
            "n_tokens",
            F.sum("n_tokens").over(w).alias("cum"),
            F.expr(f"({f_num} * sum(n_tokens) over (partition by source)) div {f_den}").alias("budget"),
        )
        return {
            r.source: (r.n_docs_kept, r.tokens_kept)
            for r in cum.filter(F.col("cum") <= F.col("budget"))
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs_kept"),
                F.sum("n_tokens").alias("tokens_kept"),
            )
            .collect()
        }

    for f_num, f_den in [(2, 5), (1, 10), (9, 10), (1, 1)]:
        got = {
            r.source: (r.n_docs_kept, r.tokens_kept)
            for r in token_budget_prefix_sample(docs, f_num=f_num, f_den=f_den).collect()
        }
        assert got == naive(f_num, f_den), (f_num, f_den)

    # subset stability: kept counts are monotone in the budget fraction
    kept = [
        {r.source: r.n_docs_kept for r in token_budget_prefix_sample(docs, f, 10).collect()}
        for f in (2, 5, 9)
    ]
    for lo, hi in zip(kept, kept[1:]):
        assert all(lo[s] <= hi[s] for s in lo)


def test_source_overlap_matrix_hand_counts(spark):
    """Hand-enumerable bigram overlap across three sources; pairs with
    zero shared shingles are absent."""
    from lichess_event_stream_watcher_spark.operators.dedup import (
        source_overlap_matrix,
    )

    docs = spark.createDataFrame(
        [
            (1, "s1", "a b c"),       # {a b, b c}
            (2, "s1", "a b"),         # dup shingle within source
            (3, "s2", "a b d"),       # {a b, b d}
            (4, "s3", "x y z"),       # {x y, y z} — disjoint
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        (r.source_a, r.source_b): r
        for r in source_overlap_matrix(docs, n=2).collect()
    }
    assert set(rows) == {("s1", "s2")}
    r = rows[("s1", "s2")]
    assert (r.n_a, r.n_b, r.n_common) == (2, 2, 1)
    assert r.jaccard_micro == (1_000_000 * 1) // 3


def test_winnowing_guarantee_shared_run_always_detected(spark):
    """Schleimer et al.'s detection guarantee: two docs sharing a run of
    >= k+w-1 tokens must share at least one selected fingerprint —
    regardless of the surrounding text. Also: selected fingerprints are
    a (proper, on this input) subset of the full gram-hash set."""
    from lichess_event_stream_watcher_spark.operators.dedup import (
        winnowing_dup_pairs,
        winnowing_fingerprints,
    )

    shared = "one two three four five six seven eight"  # 8 tokens = k+w-1
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"zz yy xx ww {shared}"),
            (3, "completely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnowing_dup_pairs(docs, k=5, w=4, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)

    fps = winnowing_fingerprints(docs, k=5, w=4)
    by_doc = {r[0]: r[1] for r in fps.groupBy("id").count().collect()}
    # doc 1 has 12 tokens -> 8 grams -> 5 windows; winnowing must select
    # strictly fewer fingerprints than grams
    assert 1 <= by_doc[1] < 8


def test_quality_lr_trains_nonzero_and_scores_consistently(spark, sf_dir):
    """The quantized GD trajectory must actually move (zero-vector weights
    would make the query a constant p=1/2 table) and the map-side scorer
    must agree with the hard-sigmoid definition recomputed in Python."""
    from lichess_event_stream_watcher_spark.operators import classifier as C

    docs = testdata.load(spark, sf_dir, "documents")
    xs = C.doc_features(F.col("text"), F.col("n_chars"))
    feats = docs.select(
        (F.col("lang") == "en").cast("bigint").alias("y"),
        *[x.alias(f"x{j}") for j, x in enumerate(xs)],
    )
    w = C.lr_fit_quantized(feats, iters=6)
    assert any(wj != 0 for wj in w), w
    rows = C.lr_score_quantized(feats, w).collect()
    import math

    for r in rows[:50]:
        dot = sum(wj * r[f"x{j}"] for j, wj in enumerate(w))
        z = math.floor(dot / 1000)
        p = min(max(math.floor(z / 4) + 500_000, 0), 1_000_000)
        assert r["score_q"] == p, (w, dict(r.asDict()))
        assert r["pred"] == (1 if p >= 500_000 else 0)


def test_quality_lr_separates_planted_classes(spark):
    """On a linearly separable toy set (positives digit-free, negatives
    digit-heavy) the trained classifier must beat the majority baseline."""
    from lichess_event_stream_watcher_spark.operators import classifier as C

    rows = []
    for i in range(40):
        rows.append((i, "the quick brown fox jumps over the lazy dog " * 3, 1))
    for i in range(40, 80):
        rows.append((i, "1234567890 " * 12, 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y long").withColumn(
        "n_chars", F.length("text")
    )
    xs = C.doc_features(F.col("text"), F.col("n_chars"))
    feats = docs.select("y", *[x.alias(f"x{j}") for j, x in enumerate(xs)])
    w = C.lr_fit_quantized(feats, iters=6)
    scored = C.lr_score_quantized(feats, w)
    acc = scored.agg(
        F.avg((F.col("pred") == F.col("y")).cast("double")).alias("a")
    ).first()["a"]
    assert acc > 0.9, (w, acc)


def test_zipf_octave_invariants(spark, sf_dir):
    """Octave 0 (the rank-1 term) is the reference: its ratio is exactly
    1000; every octave k holds <= 2^k terms each counted <= the rank-1
    term, so mass_ratio_m <= 1000 * 2^octave."""
    from lichess_event_stream_watcher_spark.queries import all_queries

    rows = all_queries()["zipf_octave_profile"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["octave"] == 0:
            assert r["n_terms"] == 1 and r["mass_ratio_m"] == 1000, dict(r.asDict())
        assert r["n_terms"] <= 2 ** r["octave"]
        assert r["mass_ratio_m"] <= 1000 * 2 ** r["octave"], dict(r.asDict())


def test_pca_power_iteration_captures_top_variance(spark, sf_dir):
    """On the (near-isotropic) synthetic embeddings the top-PC direction
    is ill-conditioned, so the contract is variance capture, not the
    direction itself: the Rayleigh quotient of the trained direction must
    reach >= 0.9 of the true top eigenvalue of X^T X."""
    import numpy as np

    from lichess_event_stream_watcher_spark.operators import pca as P

    emb = testdata.load(spark, sf_dir, "embeddings")
    w = P.power_iteration_quantized(emb, iters=8, dim=64)
    X = np.array([r[0] for r in emb.select("embedding").collect()], dtype=float)
    M = X.T @ X
    l1 = float(np.linalg.eigvalsh(M)[-1])
    wv = np.array(w, dtype=float)
    wv /= np.linalg.norm(wv)
    assert float(wv @ M @ wv) >= 0.9 * l1


def test_pca_recovers_planted_dominant_direction(spark):
    """With a real eigengap (planted dominant direction + small noise)
    the quantized iteration must recover the direction itself."""
    import numpy as np

    from lichess_event_stream_watcher_spark.operators import pca as P

    rng = np.random.default_rng(7)
    u = rng.normal(size=16)
    u /= np.linalg.norm(u)
    vecs = [
        (i, ((3.0 if i % 2 == 0 else -3.0) * u + 0.3 * rng.normal(size=16)).tolist())
        for i in range(200)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    w = P.power_iteration_quantized(emb, iters=8, dim=16)
    wv = np.array(w, dtype=float)
    wv /= np.linalg.norm(wv)
    assert abs(float(wv @ u)) > 0.98, abs(float(wv @ u))


def test_robust_outliers_match_brute_force(spark, sf_dir):
    """Median/MAD/outlier counts must equal the brute-force pandas
    computation (type-1 medians: value at rank ceil(n/2))."""
    import math

    docs = testdata.load(spark, sf_dir, "documents").select("source", "n_chars").toPandas()
    from lichess_event_stream_watcher_spark.queries import all_queries

    got = {
        r["source"]: (r["median_chars"], r["mad_chars"], r["n_outliers"])
        for r in all_queries()["robust_length_outliers"](spark, sf_dir).collect()
    }
    for src, grp in docs.groupby("source"):
        xs = sorted(grp["n_chars"])
        n = len(xs)
        med = xs[(n + 1) // 2 - 1]
        dvs = sorted(abs(x - med) for x in xs)
        mad = dvs[(n + 1) // 2 - 1]
        out = sum(1 for x in xs if abs(x - med) * 10000 > 44478 * mad)
        assert got[src] == (med, mad, out), (src, got[src], (med, mad, out))


def test_weighted_priority_sample_skews_toward_heavy_docs(spark, sf_dir):
    """The selected docs' mean weight must exceed the corpus mean weight
    — the whole point of weight-proportional selection."""
    from pyspark.sql import functions as SF

    from lichess_event_stream_watcher_spark.queries import all_queries

    docs = testdata.load(spark, sf_dir, "documents")
    corpus_mean = docs.agg(SF.avg("n_chars")).first()[0]
    sample = all_queries()["weighted_priority_sample"](spark, sf_dir)
    sample_mean = sample.agg(SF.avg("w")).first()[0]
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_histogram_drift_detects_planted_shift(spark):
    """A planted distribution shift between halves must produce a much
    larger TV distance than an unshifted type."""
    import datetime

    from lichess_event_stream_watcher_spark.operators import util  # noqa: F401  (import parity)
    from lichess_event_stream_watcher_spark.queries import ORACLES, QUERIES  # noqa: F401

    early = datetime.datetime(2024, 1, 10)
    late = datetime.datetime(2024, 1, 20)
    rows = []
    for i in range(400):
        # 'stable': same distribution both halves; 'shift': mean moves 0 -> 50
        rows.append((i, early, "stable", float(i % 10)))
        rows.append((10_000 + i, late, "stable", float(i % 10)))
        rows.append((20_000 + i, early, "shift", float(i % 10)))
        rows.append((30_000 + i, late, "shift", 50.0 + float(i % 10)))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    from pyspark.sql import functions as SF

    from lichess_event_stream_watcher_spark import queries_pipeline as QP

    binned = ev.select(
        "event_type",
        (SF.col("ts") < SF.lit(QP._DRIFT_SPLIT).cast("timestamp")).alias("early"),
        SF.floor(
            SF.floor(SF.col("value") * 1000.0).cast("bigint").cast("double")
            / float(QP._DRIFT_BIN)
        ).cast("bigint").alias("bin"),
    )
    # reuse the query's own rollup by monkey-free recomputation
    from pyspark.sql import Window

    cells = binned.groupBy("event_type", "bin").agg(
        SF.sum(SF.when(SF.col("early"), 1).otherwise(0)).cast("bigint").alias("c1"),
        SF.sum(SF.when(~SF.col("early"), 1).otherwise(0)).cast("bigint").alias("c2"),
    )
    wt = Window.partitionBy("event_type")
    cells = cells.withColumn("n1", SF.sum("c1").over(wt)).withColumn("n2", SF.sum("c2").over(wt))
    tv = {
        r["event_type"]: r["tv"]
        for r in cells.groupBy("event_type")
        .agg(
            (
                SF.sum(SF.abs(SF.col("c1") * SF.col("n2") - SF.col("c2") * SF.col("n1")))
                / (2 * SF.max("n1") * SF.max("n2"))
            ).alias("tv")
        )
        .collect()
    }
    assert tv["shift"] > 0.99 and tv["stable"] < 0.01, tv


def test_source_label_gini_bounds(spark, sf_dir):
    """Gini impurity lies in [0, 1 - 1/n_langs] and is 0 iff one lang."""
    from lichess_event_stream_watcher_spark.queries import all_queries

    rows = all_queries()["source_label_gini"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["gini_micro"] <= 1_000_000
        if r["n_langs"] == 1:
            assert r["gini_micro"] == 0
        else:
            assert r["gini_micro"] <= 1_000_000 - 1_000_000 // r["n_langs"] + 1


def test_funnel_counts_are_monotone(spark, sf_dir):
    from lichess_event_stream_watcher_spark.queries import all_queries

    r = all_queries()["funnel_conversion"](spark, sf_dir).first()
    assert r["n_users"] >= r["n_view"] >= r["n_view_click"] >= r["n_full_funnel"]
    assert 0 <= r["click_rate_q"] <= 1_000_000
    assert 0 <= r["purchase_rate_q"] <= 1_000_000


def test_retention_triangle_shape(spark, sf_dir):
    """week_offset >= 0 always; offset-0 count equals the cohort size
    (every user is active in their first-seen week by definition)."""
    from lichess_event_stream_watcher_spark.queries import all_queries

    rows = all_queries()["retention_cohorts"](spark, sf_dir).collect()
    assert rows
    base = {r["cohort_week"]: r["n_users"] for r in rows if r["week_offset"] == 0}
    for r in rows:
        assert r["week_offset"] >= 0
        assert r["n_users"] <= base[r["cohort_week"]]


def test_ols_trend_recovers_planted_slope(spark):
    """A planted linear ramp must yield the exact micro-quantized slope."""
    import datetime

    from lichess_event_stream_watcher_spark import queries_pipeline as QP
    from pyspark.sql import functions as SF

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(hours=i), "ramp", 2.5 * i + 7.0)
        for i in range(100)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    pts = ev.select(
        "event_type",
        SF.floor((SF.col("ts").cast("long") - SF.lit(QP._TS_BASE)) / SF.lit(3600.0)).cast("bigint").alias("x"),
        SF.floor(SF.col("value") * 1000.0).cast("bigint").alias("y"),
    )
    s = pts.groupBy("event_type").agg(
        SF.count("*").cast("bigint").alias("n"),
        SF.sum("x").alias("sx"), SF.sum("y").alias("sy"),
        SF.sum(SF.col("x") * SF.col("y")).alias("sxy"),
        SF.sum(SF.col("x") * SF.col("x")).alias("sxx"),
    ).first()
    num = s["n"] * s["sxy"] - s["sx"] * s["sy"]
    den = s["n"] * s["sxx"] - s["sx"] * s["sx"]
    # y is milli-units: slope 2.5/hour = 2500 milli/hour = 2.5e9 micro
    assert abs(num / den - 2500.0) < 1e-9, num / den


def test_cusum_locates_planted_rate_break(spark):
    """Rate doubles at hour 50: the CUSUM peak must land on the break."""
    import datetime

    from lichess_event_stream_watcher_spark.operators import util  # noqa: F401
    from pyspark.sql import functions as SF, Window

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(100):
        for k in range(2 if h < 50 else 6):
            rows.append((eid, base + datetime.timedelta(hours=h, minutes=k), "brk", 1.0))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    from lichess_event_stream_watcher_spark import queries_pipeline as QP

    hourly = (
        ev.select(SF.floor((SF.col("ts").cast("long") - SF.lit(QP._TS_BASE)) / SF.lit(3600.0)).cast("bigint").alias("h"))
        .groupBy("h").agg(SF.count("*").cast("bigint").alias("c"))
    )
    import pandas as pd

    pdf = hourly.toPandas().sort_values("h").reset_index(drop=True)
    nh, total = len(pdf), pdf["c"].sum()
    cum, best, best_h = 0, -1, None
    for i, row in pdf.iterrows():
        cum += row["c"]
        d = abs(nh * cum - (i + 1) * total)
        if d > best:
            best, best_h = d, row["h"]
    assert 45 <= best_h <= 52, best_h


def test_transition_matrix_conserves_events(spark, sf_dir):
    """Sum of transition counts = total events minus one per active user
    (each user's sequence of k events yields k-1 bigrams)."""
    from pyspark.sql import functions as SF

    from lichess_event_stream_watcher_spark import testdata
    from lichess_event_stream_watcher_spark.queries import all_queries

    ev = testdata.load(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    total = (
        all_queries()["event_transition_matrix"](spark, sf_dir)
        .agg(SF.sum("n"))
        .first()[0]
    )
    assert total == n_events - n_users


def test_hourly_corr_is_bounded_and_self_consistent(spark, sf_dir):
    """corr in [-1, 1] (micro), one row per unordered type pair."""
    from lichess_event_stream_watcher_spark.queries import all_queries

    rows = all_queries()["hourly_corr_pairs"](spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["t1"] < r["t2"]
        assert (r["t1"], r["t2"]) not in seen
        seen.add((r["t1"], r["t2"]))
        assert -1_000_000 <= r["corr_micro"] <= 1_000_000


def test_cramers_v_detects_planted_association(spark):
    """A perfectly source-determined language assignment must score far
    higher than an independent one."""
    from pyspark.sql import functions as SF

    from lichess_event_stream_watcher_spark import queries_pipeline as QP

    def score(rows):
        docs = spark.createDataFrame(rows, "doc_id long, source string, lang string")
        cells = docs.groupBy("source", "lang").agg(SF.count("*").cast("bigint").alias("o"))
        from pyspark.sql import Window

        marg = (
            cells.withColumn("rs", SF.sum("o").over(Window.partitionBy("source")))
            .withColumn("cs", SF.sum("o").over(Window.partitionBy("lang")))
            .withColumn("n", SF.sum("o").over(Window.partitionBy()))
        )
        d = (SF.col("o") * SF.col("n") - SF.col("rs") * SF.col("cs")).cast("double")
        chi = marg.select(
            SF.floor(
                SF.lit(1e6) * d * d / (SF.col("n").cast("double") * SF.col("rs").cast("double") * SF.col("cs").cast("double"))
            ).alias("q")
        ).agg(SF.sum("q")).first()[0]
        return chi

    dependent = [(i, f"s{i % 2}", f"l{i % 2}") for i in range(200)]
    independent = [(i, f"s{i % 2}", f"l{(i // 2) % 2}") for i in range(200)]
    assert score(dependent) > 100 * max(score(independent), 1)


def test_benford_probabilities_sum_to_one(spark, sf_dir):
    """Digits 1-9 only; observed micro-probs sum to ~1e6; expected
    constants are the frozen Benford law."""
    from lichess_event_stream_watcher_spark.queries import all_queries
    from lichess_event_stream_watcher_spark.queries_pipeline import _BENFORD_MICRO

    rows = all_queries()["benford_first_digit"](spark, sf_dir).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    assert sum(_BENFORD_MICRO.values()) == 1_000_000
    obs = sum(r["p_obs_micro"] for r in rows)
    assert 1_000_000 - 9 <= obs <= 1_000_000  # floor-div loses < 1 micro per digit
    for r in rows:
        assert r["p_benford_micro"] == _BENFORD_MICRO[r["digit"]]


def test_join_key_profile_invariants(spark, sf_dir):
    """sum(c^2) >= n_rows always (c >= 1), with equality iff unique key;
    n_keys <= n_rows; max_mult * n_keys >= n_rows."""
    from lichess_event_stream_watcher_spark.queries import all_queries

    rows = {r["rel_key"]: r for r in all_queries()["join_key_profile"](spark, sf_dir).collect()}
    assert set(rows) == {"lineitem.l_orderkey", "events.user_id", "documents.source"}
    for r in rows.values():
        assert r["n_keys"] <= r["n_rows"]
        assert r["selfjoin_card"] >= r["n_rows"]
        assert r["max_mult"] * r["n_keys"] >= r["n_rows"]


def test_k_anonymity_partitions_the_corpus(spark, sf_dir):
    """The three risk buckets partition the corpus exactly: EVERY
    bucket's (n_groups, n_docs) equals a brute-force group-size recount
    — a bug that misroutes groups between buckets with compensating doc
    counts cannot pass."""
    from pyspark.sql import functions as SF

    from lichess_event_stream_watcher_spark import testdata
    from lichess_event_stream_watcher_spark.queries import all_queries

    docs = testdata.load(spark, sf_dir, "documents")
    n = docs.count()
    rows = {
        r["risk_bucket"]: (r["n_groups"], r["n_docs"])
        for r in all_queries()["k_anonymity_audit"](spark, sf_dir).collect()
    }
    sizes = [
        r[0]
        for r in docs.groupBy("source", "lang", SF.expr("div(n_chars, 200)"))
        .count()
        .select("count")
        .collect()
    ]
    expected = {}
    for c in sizes:
        b = "unique" if c == 1 else ("small" if c < 5 else "anonymous")
        g, d = expected.get(b, (0, 0))
        expected[b] = (g + 1, d + c)
    assert rows == expected
    assert sum(d for _, d in rows.values()) == n


# ---------------------------------------------------------------------------
# Gopher rule battery + C4 line cleaning (round 6) — the multi-line
# semantics the single-line synthetic corpus cannot exercise
# ---------------------------------------------------------------------------


def test_c4_line_filter_multiline_semantics(spark):
    rows = [
        # 5 lines: 3 proper sentences survive, 'short' fails min-words,
        # the bullet fails terminal punctuation -> kept
        (1, "This is a good line with words.\nshort\n- bullet item\n"
            "Another proper sentence here!\nAnd a third good sentence here."),
        # lorem ipsum kills the page even with 4 surviving lines
        (2, "lorem ipsum dolor sit amet.\nA fine sentence right here.\n"
            "Another one lands properly.\nThird full sentence here too."),
        # '{' kills the page
        (3, "code { brace } stuff.\nA fine sentence right here.\n"
            "B fine sentence right here.\nC fine sentence right here."),
        # javascript line dropped; only one kept line -> page dropped
        (4, "uses javascript everywhere today.\nOnly one good sentence here."),
        # blank lines are not lines; quote-terminated line survives
        (5, 'He said "stop right there."\n\n  \nSecond good sentence here.\n'
            "Third good sentence lands here."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept_lines"], r["keep"])
        for r in X.c4_line_filter(df).collect()
    }
    assert got[1] == (5, 3, True)
    assert got[2] == (4, 4, False)  # lorem ipsum page rule
    assert got[3] == (4, 4, False)  # brace page rule
    assert got[4] == (2, 1, False)  # javascript line + too few kept
    assert got[5] == (3, 3, True)   # blanks skipped, quote-final kept


def test_c4_line_filter_kept_chars_and_zero_line_docs(spark):
    df = spark.createDataFrame(
        [(1, "One good sentence here.\nxx"), (2, "   \n  ")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in X.c4_line_filter(df).collect()}
    assert got[1]["n_kept_chars"] == len("One good sentence here.")
    # whitespace-only doc: zero lines, still reported (explode_outer)
    assert (got[2]["n_lines"], got[2]["n_kept_lines"], got[2]["keep"]) == (0, 0, False)


def test_gopher_rules_fire_individually(spark):
    base = "the quick brown foxes jumped over that lazy sleeping dog with glee "
    good = (base * 5).strip()  # 60 tokens, mean len ~4.6, all rules pass
    rows = [
        (1, good),
        (2, "the of " * 10),                      # word count < 50
        (3, ("a b " * 40 + "the of that be ")),   # mean word len < 3
        (4, good + " " + "#" * 1),                # 1 symbol over 71 tokens: passes
        (5, good.replace("quick", "12345")),      # digits: alpha fraction still >= 0.8
        (6, " ".join(["123", "456"] * 40)),       # no letters, no stopwords
        (7, good + "\n" + "\n".join("- b%d" % i for i in range(30))),  # 30/31 bullet lines
        (8, good + "\n" + "\n".join("trailing off %d..." % i for i in range(9))),  # 9/10 ellipsis lines
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in X.gopher_quality_rules(df).collect()}
    assert got[1]["keep"]
    assert not got[2]["r_word_count"]
    assert not got[3]["r_mean_word_len"]
    assert got[4]["r_symbol_ratio"]
    assert got[5]["r_alpha_words"]
    assert not got[6]["r_alpha_words"] and not got[6]["r_stopwords"]
    assert not got[7]["r_bullet_lines"]
    assert not got[8]["r_ellipsis_lines"]


def test_gopher_symbol_rule_counts_hashes_and_ellipses(spark):
    # 50 tokens, 6 symbol hits (3 '#' + 3 '...') -> 60 > 50 fails; 5 -> passes
    words = " ".join(["the", "of", "and", "with", "that"] * 10)
    fail = words + " ### ... ... ..."  # tokens grow to 54; 10*(3+3)=60 > 54
    ok = words + " ## ... ... ..."     # 10*(2+3)=50 <= 54
    df = spark.createDataFrame([(1, fail), (2, ok)], ["doc_id", "text"])
    got = {r["doc_id"]: r["r_symbol_ratio"] for r in X.gopher_quality_rules(df).collect()}
    assert got == {1: False, 2: True}


def test_leakage_safe_split_routes_clusters_together(spark):
    """Planted near-dup clusters must land whole in one split, and that
    split must be the cluster-min id's hash split; singletons must match
    dataset_split exactly."""
    from lichess_event_stream_watcher_spark.operators import curation as C

    docs = spark.createDataFrame(
        [(i, f"doc {i}", "s") for i in range(40)], ["doc_id", "text", "source"]
    )
    # clusters: {0,7,13}, {2,21}; everything else singleton
    pairs = spark.createDataFrame(
        [(0, 7), (7, 13), (2, 21)], ["id_a", "id_b"]
    )
    out = C.leakage_safe_split(docs, pairs).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    comp_of = {r["doc_id"]: r["comp"] for r in out}
    assert len(out) == 40
    assert comp_of[0] == comp_of[7] == comp_of[13] == 0
    assert split_of[0] == split_of[7] == split_of[13]
    assert comp_of[2] == comp_of[21] == 2
    assert split_of[2] == split_of[21]
    naive = {
        r["doc_id"]: r["split"]
        for r in C.dataset_split(docs).collect()
    }
    # cluster members take the REPRESENTATIVE's naive split
    assert split_of[13] == naive[0] and split_of[21] == naive[2]
    for i in set(range(40)) - {0, 7, 13, 2, 21}:
        assert comp_of[i] == i and split_of[i] == naive[i]


def test_unimax_allocation_waterfilling_invariants(spark):
    """Closed-form UniMax must (a) spend exactly min(B, sum caps),
    (b) never exceed a source's cap, (c) give saturated sources their full
    cap and every unsaturated source share or share+1, (d) be monotone in
    cap order. Exercised across skewed sizes and edge budgets."""
    import random

    from lichess_event_stream_watcher_spark.operators import curation as C

    rng = random.Random(6)
    sizes = {f"s{i:02d}": rng.choice([5, 40, 41, 300, 2000, 2001]) for i in range(12)}
    docs = spark.createDataFrame(
        [(f"{src}-{k}", " ".join(["tok"] * n), src)
         for src, n in sizes.items() for k in range(1)],
        ["doc_id", "text", "source"],
    )
    caps = {s: 2 * n for s, n in sizes.items()}
    total_cap = sum(caps.values())
    for budget in [0, 7, total_cap // 3, total_cap - 1, total_cap, total_cap + 999]:
        rows = C.unimax_allocation(docs, budget_tokens=budget, max_epochs=2).collect()
        alloc = {r["source"]: r["alloc_tokens"] for r in rows}
        assert all(r["cap_tokens"] == caps[r["source"]] for r in rows)
        assert sum(alloc.values()) == min(budget, total_cap), budget
        assert all(alloc[s] <= caps[s] for s in alloc), budget
        unsat = sorted(a for s, a in alloc.items() if a < caps[s])
        if unsat:
            assert unsat[-1] - unsat[0] <= 1, (budget, unsat)
        by_cap = [alloc[s] for s, _ in sorted(caps.items(), key=lambda kv: (kv[1], kv[0]))]
        assert by_cap == sorted(by_cap), budget


def test_curate_corpus_keep_best_preserves_cluster_count(spark, sf_dir):
    """near_dup_keep='best' must keep exactly one representative per
    cluster (same survivor COUNT as min-id) while choosing by quality —
    and the chosen set must match dedup_keep_best run standalone."""
    from lichess_event_stream_watcher_spark.pipeline import curate_corpus

    docs = testdata.load(spark, sf_dir, "documents")
    _, counts_min = curate_corpus(docs)
    chunks_best, counts_best = curate_corpus(docs, near_dup_keep="best")
    chunks_best.unpersist()
    assert counts_best["near_dedup"] == counts_min["near_dedup"]
    assert counts_best["input"] == counts_min["input"]
    assert counts_best["exact_dedup"] == counts_min["exact_dedup"]


def test_lsh_band_sweep_matches_per_config_candidates(spark, sf_dir):
    """The sweep's per-config candidate sets must equal lsh_candidate_pairs
    run at that config — the single-signature-pass fusion is a physical
    optimization, never a semantic one. (b=16/r covers all three configs;
    b=4 cross-checks the certified dedup_minhash_lsh path.)"""
    docs = testdata.load(spark, sf_dir, "documents")
    sweep = D.lsh_band_sweep(docs, band_counts=(2, 4, 8), k=16, n=2).collect()
    by_cfg: dict[int, set] = {}
    for r in sweep:
        by_cfg.setdefault(r.n_bands, set()).add((r.id_a, r.id_b))
    assert set(by_cfg) == {2, 4, 8}
    for b in (2, 4, 8):
        solo = {
            (r.id_a, r.id_b)
            for r in D.lsh_candidate_pairs(docs, k=16, bands=b, n=2).collect()
        }
        assert by_cfg[b] == solo, (
            f"bands={b}: sweep diverges from the standalone path "
            f"(only-sweep={sorted(by_cfg[b] - solo)[:3]}, "
            f"only-solo={sorted(solo - by_cfg[b])[:3]})"
        )
    # more bands (shorter rows) can only widen the candidate set for the
    # SAME signatures when band boundaries nest (8x2 bands are bisections
    # of 4x4 bands, which bisect 2x8): any bucket collision on a long
    # band implies collision on both its halves.
    assert by_cfg[2] <= by_cfg[4] <= by_cfg[8]


def test_threshold_sensitivity_is_monotone_and_matches_single_threshold(spark, sf_dir):
    """Counts must be non-increasing in the threshold, and the t=0.5 row
    must equal a standalone jaccard_pairs run at 0.5 — the multi-threshold
    fan-out is a physical fusion, never a semantic change."""
    import __spark_entry__ as entry

    rows = {
        r.threshold_milli: (r.n_pairs, r.n_docs)
        for r in entry.queries()["dedup_threshold_sensitivity"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) <= {100, 300, 500, 900}
    ts = sorted(rows)
    for lo, hi in zip(ts, ts[1:]):
        assert rows[lo][0] >= rows[hi][0], (lo, hi, rows)
        assert rows[lo][1] >= rows[hi][1], (lo, hi, rows)
    docs = testdata.load(spark, sf_dir, "documents")
    solo = D.jaccard_pairs(docs, n=2, threshold=0.5)
    n_solo = solo.count()
    docs_solo = solo.select(
        F.explode(F.array("id_a", "id_b")).alias("id")
    ).distinct().count()
    assert rows.get(500, (0, 0)) == (n_solo, docs_solo)


def test_cost_census_bounds_the_real_strategies(spark, sf_dir):
    """The census must be arithmetically consistent with the structures it
    predicts: postings index_rows = the shingle-table row count; the
    prefix index is a strict subset of the postings index; LSH bucket
    pair volume bounds the distinct candidate-pair count from above."""
    from lichess_event_stream_watcher_spark.operators.dedup import shingles

    docs = testdata.load(spark, sf_dir, "documents")
    census = {
        r.strategy: (r.index_rows, r.candidate_pairs)
        for r in D.dedup_cost_census(docs, threshold=0.5, k=16, bands=4).collect()
    }
    assert set(census) == {"postings", "prefix_df", "lsh_16x4"}
    n_sh_rows = shingles(docs, 2).count()
    assert census["postings"][0] == n_sh_rows
    assert census["prefix_df"][0] <= census["postings"][0]
    assert census["prefix_df"][1] <= census["postings"][1]
    n_lsh_distinct = D.lsh_candidate_pairs(docs, k=16, bands=4, n=2).count()
    assert census["lsh_16x4"][1] >= n_lsh_distinct
    n_docs = docs.count()
    assert census["lsh_16x4"][0] == 4 * n_docs


def test_ann_cost_census_matches_route_structures(spark, sf_dir):
    """The census counts must equal the routes' real candidate-set sizes:
    brute = corpus minus self; LSH = the query's bucket size minus self;
    IVF bounded by the corpus and consistent across queries with the
    cell partition (each count is a sum of whole cells minus self)."""
    emb = testdata.load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").between(8, 15)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    anchors = emb.filter(F.col("vec_id") <= 7).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("anchor_vec")
    )
    census = {
        (r.method, r.query_id): r.n_scored
        for r in S.ann_cost_census(emb, cents, anchors, [0, 1, 2], nprobe=2).collect()
    }
    n = emb.count()
    buckets = {r.vec_id: r.bucket for r in S.hyperplane_buckets(emb, anchors).collect()}
    from collections import Counter

    bucket_sizes = Counter(buckets.values())
    for q in (0, 1, 2):
        assert census[("brute_force", q)] == n - 1
        assert census[("lsh", q)] == bucket_sizes[buckets[q]] - 1
        assert 0 <= census[("ivf", q)] <= n - 1
    assert len(census) == 9  # 3 methods x 3 queries, zeros explicit


def test_ann_cost_census_scaffolds_missing_query_ids(spark, sf_dir):
    """A query id absent from the embeddings table must still yield its
    three explicit zero rows — the scaffold is built from the query_ids
    LITERALS, matching the oracle's unnest([...]) scaffold, not from a
    corpus filter that silently drops the id (ADVICE r6 #2)."""
    emb = testdata.load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").between(8, 15)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    anchors = emb.filter(F.col("vec_id") <= 7).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("anchor_vec")
    )
    missing = -12345  # no such vec_id in any fixture
    census = {
        (r.method, r.query_id): r.n_scored
        for r in S.ann_cost_census(emb, cents, anchors, [0, missing], nprobe=2).collect()
    }
    assert len(census) == 6
    for m in ("brute_force", "ivf", "lsh"):
        assert census[(m, missing)] == 0, (m, census)
    assert census[("brute_force", 0)] == emb.count() - 1


def test_lsh_band_sweep_rejects_non_divisor_band_counts(spark):
    """k % b != 0 would silently diverge from the oracle's uniform-width
    banding (the remainder-absorbing last band vs an extra 1-seed band) —
    it must raise instead (ADVICE r6 #1)."""
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="do not divide"):
        D.lsh_band_sweep(df, band_counts=(2, 3), k=16, n=2)


def test_minhash_calibration_error_is_bounded_and_consistent(spark, sf_dir):
    """Band means must sit far under the k=16 estimator's worst case
    (half the signature, 500000 micro), bands must be valid quintiles,
    and the pair total must equal the candidate-x-exact join computed
    independently."""
    import __spark_entry__ as entry

    rows = entry.queries()["dedup_minhash_calibration"](spark, sf_dir).collect()
    assert rows, "calibration table should not be empty"
    for r in rows:
        assert 0 <= r.band <= 4
        assert r.n_pairs > 0
        assert 0 <= r.mean_abs_err_micro < 500_000, r
    docs = testdata.load(spark, sf_dir, "documents")
    cand = D.lsh_candidate_pairs(docs, k=16, bands=8, n=2).select("id_a", "id_b")
    exact = D.jaccard_pairs(docs, n=2, threshold=0.1).select("id_a", "id_b")
    n_joined = cand.join(exact, ["id_a", "id_b"]).count()
    assert sum(r.n_pairs for r in rows) == n_joined


def test_pq_distortion_census_matches_numpy_twin(spark, sf_dir):
    """Census totals must equal a brute-force numpy recomputation of
    min-codeword squared error, quantized the same way — per subspace,
    over the whole corpus."""
    import numpy as np

    from lichess_event_stream_watcher_spark.artifacts import pq_books

    emb = testdata.load(spark, sf_dir, "embeddings")
    books = pq_books()
    census = {
        r.subspace: (r.n_vecs, r.total_err_micro)
        for r in S.pq_distortion_census(emb, books).collect()
    }
    assert set(census) == set(range(len(books)))
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    dsub = books[0].shape[1]
    for j, book in enumerate(books):
        sub = X[:, j * dsub : (j + 1) * dsub]
        # same left-fold arithmetic as the operator: err = min(-2 x.c + c.c) + x.x
        errs = []
        for x in sub:
            best = None
            for cv in book:
                acc = 0.0
                for t in range(dsub):
                    acc += float(x[t]) * float(cv[t])
                nb = 0.0
                for t in range(dsub):
                    nb += float(cv[t]) * float(cv[t])
                d = -2.0 * acc + nb
                if best is None or d < best:
                    best = d
            sx = 0.0
            for t in range(dsub):
                sx += float(x[t]) * float(x[t])
            errs.append(int(round((best + sx) * 1000000.0)))
        assert census[j][0] == len(rows)
        assert census[j][1] == sum(errs), f"subspace {j}"


def test_ivf_cell_occupancy_partitions_the_corpus(spark, sf_dir):
    """Occupancy is a partition of the corpus: counts sum to the corpus
    size, every centroid has a row (zeros explicit), and per-cell counts
    agree with a direct nearest_cells groupBy."""
    emb = testdata.load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").between(8, 15)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    occ = {r.cell: r.n_members for r in S.ivf_cell_occupancy(emb, cents).collect()}
    assert set(occ) == set(range(8, 16))
    assert sum(occ.values()) == emb.count()
    direct = {
        r.cent_id: r.n
        for r in S.nearest_cells(emb, cents, 1)
        .groupBy("cent_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for cell, n in occ.items():
        assert n == direct.get(cell, 0)


def test_lsh_bucket_histogram_accounts_for_every_signature(spark, sf_dir):
    """The histogram must be a complete accounting of the banding: sum of
    size*count equals (docs with >=1 shingle) x bands, and the pair work
    it predicts (sum m*(m-1)/2) equals the band sweep's 4x4 pre-distinct
    volume lower-bounded by the distinct candidate count."""
    docs = testdata.load(spark, sf_dir, "documents")
    hist = {
        r.bucket_size: r.n_buckets
        for r in D.lsh_bucket_histogram(docs, k=16, bands=4).collect()
    }
    n_sigs = D.minhash_signature_arrays(docs, k=16).count()
    assert sum(s * c for s, c in hist.items()) == n_sigs * 4
    pair_volume = sum(s * (s - 1) // 2 * c for s, c in hist.items())
    n_cand = D.lsh_candidate_pairs(docs, k=16, bands=4).count()
    assert pair_volume >= n_cand
    census = {
        r.strategy: r.candidate_pairs
        for r in D.dedup_cost_census(docs, k=16, bands=4).collect()
    }
    assert pair_volume == census["lsh_16x4"]


# ---------------------------------------------------------------------------
# Round-7 operator-review regression pins
# ---------------------------------------------------------------------------
def test_pack_sequences_bin_is_bigint(spark, sf_dir):
    """The bin index must stay BIGINT: a 100 TB shard holds ~1e12 tokens,
    so bins exceed 2^31 and an int cast would wrap late bins negative,
    silently merging them with early ones."""
    docs = testdata.load(spark, sf_dir, "documents")
    out = C.pack_sequences(docs, budget=512, shard_hex_chars=1)
    assert dict(out.dtypes)["bin"] == "bigint"


def test_temperature_mix_keeps_null_source_group(spark):
    """The rates table computes a rate for the NULL-source group, so the
    keep draw must apply to NULL-source docs too — the old equi-join
    silently discarded every one of them."""
    rows = [(i, "web" if i % 2 else None) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept_f = C.temperature_mix_filter(df, source_col="source")
    kept_s = C.temperature_mix_sample(df, source_col="source")
    # both groups have 20 docs -> rate_q = quant (min group) -> ALL kept
    assert kept_f.count() == 40
    assert kept_s.count() == 40
    assert kept_f.filter(F.col("source").isNull()).count() == 20
    # and the two forms still agree doc-for-doc
    a = {r.doc_id for r in kept_f.select("doc_id").collect()}
    b = {r.id for r in kept_s.select("id").collect()}
    assert a == b


def test_dsir_raises_on_empty_target(spark):
    """A target_col predicate matching nothing must fail loudly, not
    return a full-size all-NULL score column."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "the cat", False), (2, "a dog", False)],
        "doc_id long, text string, is_tgt boolean",
    )
    with _pytest.raises(Exception, match="target"):
        C.dsir_importance(df, target_col="is_tgt").collect()


def test_rrf_fuse_and_lr_fit_reject_empty_inputs(spark):
    import pytest as _pytest

    from lichess_event_stream_watcher_spark.operators.classifier import (
        lr_fit_quantized,
    )
    from lichess_event_stream_watcher_spark.operators.retrieval import rrf_fuse

    with _pytest.raises(ValueError, match="non-empty"):
        rrf_fuse([])
    empty = spark.createDataFrame(
        [], "y int, x0 bigint, x1 bigint, x2 bigint, x3 bigint"
    )
    with _pytest.raises(ValueError, match="no rows"):
        lr_fit_quantized(empty, iters=1)


def test_salted_join_rejects_small_side_preserving_hows(spark):
    import pytest as _pytest

    from lichess_event_stream_watcher_spark.operators.util import salted_join

    big = spark.createDataFrame([(1, "a")], "k long, v string")
    small = spark.createDataFrame([(1, "x"), (2, "y")], "k long, w string")
    for how in ("right", "full", "full_outer", "outer"):
        with _pytest.raises(ValueError, match="not semantics-identical"):
            salted_join(big, small, "k", how=how)
    # the big-side-preserving forms still work and match the plain join
    got = {tuple(r) for r in salted_join(big, small, "k").collect()}
    want = {tuple(r) for r in big.join(small, "k").collect()}
    assert got == want


def test_source_quota_binds_id_col_not_lateral_alias(spark):
    """On a frame that carries an unrelated 'id' column, the quota hash
    must still key on id_col — the lateral alias used to capture the
    stray column and draw by the wrong key."""
    rows = [(i, 999 - i, "s") for i in range(30)]
    with_stray = spark.createDataFrame(rows, "doc_id long, id long, source string")
    without = spark.createDataFrame(
        [(i, "s") for i in range(30)], "doc_id long, source string"
    )
    a = sorted(r.id for r in C.source_quota(with_stray, per_source=5).collect())
    b = sorted(r.id for r in C.source_quota(without, per_source=5).collect())
    assert a == b  # same kept doc_ids regardless of the stray column


def test_bm25_keeps_tokenize_map_side(spark, sf_dir):
    """bm25_topk re-tokenizes per branch as map-side projections —
    DELIBERATE (round-7 measurement: sharing one tokenized frame behind
    a repartition exchange shuffles the full token arrays and benched
    2.3x slower than the codegen'd regex at scan speed). Pin: no
    round-robin exchange in the plan (the shuffle the measured-slower
    form introduces), and the corpus stats come from ONE agg (no
    cross-join of two single-agg branches)."""
    from lichess_event_stream_watcher_spark.operators.retrieval import bm25_topk

    docs = testdata.load(spark, sf_dir, "documents")
    plan = (
        bm25_topk(docs, {0: "the cat"}, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "RoundRobinPartitioning" not in plan, plan


def test_power_iteration_guards_empty_and_ragged_vectors(spark, sf_dir):
    """Round-7 review fix: an empty/all-NULL corpus raises a real error,
    and a ragged (shorter-than-dim) vector is excluded instead of
    blowing up every round's agg under ANSI element_at."""
    import pytest as _pytest

    from lichess_event_stream_watcher_spark.operators.pca import (
        power_iteration_quantized,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="nothing to fit"):
        power_iteration_quantized(empty, iters=1)

    emb = testdata.load(spark, sf_dir, "embeddings")
    clean = power_iteration_quantized(emb, iters=2)
    ragged = emb.select("embedding").unionByName(
        spark.createDataFrame(
            [([1.0, 2.0],), (None,)], "embedding array<double>"
        )
    )
    assert power_iteration_quantized(ragged, iters=2, dim=len(clean)) == clean


def test_jaccard_cost_gate_routes_disjoint_vocab_to_postings(spark, sf_dir):
    """Round-8 cost gate (measured on the scale probe's 1x/4x/8x cipher
    replications): dense's unavoidable work is the nd^2 intersection-count
    scan, postings' is the sum(df^2) fanout. A corpus whose docs share
    almost no shingles has sum(df^2) ~ P but nd^2 >> P — the old
    feasibility-only gate (vocab and bytes limits) still admitted dense
    there and paid a measured 4x at 40k docs. The cost gate must route it
    to the sparse path, while the shared-vocabulary driver corpus keeps
    taking dense via the zero-extra-work uniform lower bound."""
    from lichess_event_stream_watcher_spark import testdata
    from lichess_event_stream_watcher_spark.operators import dedup as D

    disjoint = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(300)],
        "doc_id bigint, text string",
    )
    df = D.jaccard_pairs(disjoint, n=2, threshold=0.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan, plan  # sparse path: no BLAS stage
    assert df.count() == 0  # no shared shingles -> no pairs

    dense_df = D.jaccard_pairs(testdata.load(spark, sf_dir, "documents"), n=2, threshold=0.5)
    dense_plan = dense_df._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" in dense_plan, dense_plan  # shared vocab stays dense


def test_semantic_dedup_auto_scales_cells(spark, sf_dir):
    """semantic_dedup_auto (round 8, queued for round-9 registration): the
    cell count tracks corpus size (clamped), centroids are the k lowest
    ids, and the verdicts equal semantic_dedup called with the same
    explicitly-built centroid frame."""
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark import testdata
    from lichess_event_stream_watcher_spark.operators import similarity as S

    emb = testdata.load(spark, sf_dir, "embeddings")
    n = emb.count()
    # force a non-trivial k: target 25 vectors per cell
    k = min(4096, max(8, -(-n // 25)))
    auto = S.semantic_dedup_auto(emb, threshold=0.35, target_cell=25)
    cents = (
        emb.orderBy(F.col("vec_id"))
        .limit(int(k))
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec"))
    )
    manual = S.semantic_dedup(emb, cents, threshold=0.35)
    a = sorted((r.vec_id, r.cell, r.keep) for r in auto.collect())
    m = sorted((r.vec_id, r.cell, r.keep) for r in manual.collect())
    assert a == m and len(a) == n
    assert len({c for _, c, _ in a}) <= k
    # clamps: a huge target collapses to min_cells-worth of centroids
    few = S.semantic_dedup_auto(emb, threshold=0.35, target_cell=10**9)
    assert len({r.cell for r in few.collect()}) <= 8


def test_session_cache_registry_drains(spark):
    """Round-9 ADVICE: query-registered .persist() caches (band sweep's
    exact-pair table, the charlm scored frame) must be releasable by the
    harness between queries — otherwise each invocation leaks one
    session-resident cached plan."""
    from lichess_event_stream_watcher_spark.operators.session_cache import (
        _SESSION_CACHES,
        register_session_cache,
        release_session_caches,
    )

    release_session_caches()  # start clean
    df = register_session_cache(spark.range(100).persist())
    assert df.count() == 100
    assert df.storageLevel.useMemory and len(_SESSION_CACHES) == 1
    release_session_caches()
    assert not _SESSION_CACHES
    assert not df.storageLevel.useMemory
    release_session_caches()  # idempotent on empty
