"""Physical-plan shape tests — the scale contract, pinned.

These assert the properties that make the engine survive a 100x scale-up:
the rule scan stays a shuffle-free map projection, dimension joins stay
broadcast-hash (never nested-loop or sort-merge), and parquet scans prune
columns and push filters.
"""

from __future__ import annotations

import re

import pytest
from conftest import forced_distributed

from lichess_event_stream_watcher_spark import fixtures, testdata
from lichess_event_stream_watcher_spark.operators.enrich import (
    enrich_geoip,
    enrich_geoip_banded,
)
from lichess_event_stream_watcher_spark.plans.compile import compile_matches


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rule_scan_is_shuffle_free(spark, sf_dir):
    signups = testdata.signups_df(spark, sf_dir)
    df = compile_matches(signups, fixtures.reference_ruleset())
    p = plan_str(df)
    assert "Exchange" not in p  # no shuffle: rules fold into the projection
    assert "Join" not in p  # the J1 "join" compiles away entirely


def test_geoip_banded_is_broadcast_hash_join(spark, sf_dir):
    events = testdata.signups_df(spark, sf_dir)
    ranges = fixtures.geoip_ranges_df(spark)
    p = plan_str(enrich_geoip_banded(events, ranges))
    assert "BroadcastHashJoin" in p  # O(1) probe per event
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p
    # the naive range join IS nested-loop — the banded form is the fix
    p_naive = plan_str(enrich_geoip(events, ranges))
    assert "BroadcastNestedLoopJoin" in p_naive


def test_parquet_column_pruning_and_pushdown(spark, sf_dir):
    from pyspark.sql import functions as F

    li = testdata.load(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag", "l_quantity")
    p = plan_str(df)
    scan = p[p.index("FileScan"):]
    m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    assert m, p
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # only the projected + filter columns reach the scan
    assert read_cols == {"l_returnflag", "l_quantity", "l_shipdate"}
    assert "PushedFilters: [IsNotNull(l_shipdate)" in scan or "LessThanOrEqual(l_shipdate" in scan


def test_tpch_q5_dim_joins_broadcast(spark, sf_dir):
    import __spark_entry__ as entry

    df = entry.queries()["tpch_q5_region_revenue"](spark, sf_dir)
    p = plan_str(df)
    assert p.count("BroadcastHashJoin") >= 3  # region/nation/customer/supplier dims
    assert "SortMergeJoin" not in p


def test_ann_primitives_are_map_side(spark, sf_dir):
    """LSH bucketing and IVF cell assignment must be pure projections:
    anchors/centroids inline as literals, so no shuffle and no join ever
    touches the corpus regardless of its size."""
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators import similarity as S

    emb = testdata.load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") <= 7).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("anchor_vec")
    )
    p = plan_str(S.hyperplane_buckets(emb, anchors))
    assert "Exchange" not in p and "Join" not in p

    cents = emb.filter(F.col("vec_id").between(8, 15)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    p = plan_str(S.nearest_cells(emb, cents, 2))
    assert "Exchange" not in p and "Join" not in p


def test_pq_encode_is_arrow_batched_and_map_side(spark, sf_dir):
    """PQ encode must stay on the Arrow path (ArrowEvalPython) with zero
    shuffle and zero join: the exact argmin-L2 encode is 16k FLOPs/row —
    as a Catalyst scalar tree it exceeds the JIT method limit and runs
    interpreted at ~1 ms/row (see SCALE.md "Expression-size regimes"), so
    a revert to an expression spelling is a ~1000x per-row regression
    this pin exists to catch."""
    from lichess_event_stream_watcher_spark.operators import similarity as S

    from lichess_event_stream_watcher_spark.artifacts import pq_books

    emb = testdata.load(spark, sf_dir, "embeddings")
    p = plan_str(S.pq_encode(emb, pq_books()))
    assert "ArrowEvalPython" in p, p
    assert "Exchange" not in p and "Join" not in p


def test_ivf_candidate_join_is_broadcast(spark, sf_dir):
    """The IVF probe join must broadcast the tiny probe side; the corpus
    side must not be exchanged for the join itself."""
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators import similarity as S

    emb = testdata.load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").between(8, 15)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    p = plan_str(S.ivf_ann_topk(emb, cents, [0, 1, 2, 3, 4], k=5, nprobe=2))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """The co-located fact-fact join technique for 100 TB: both sides
    written bucketBy the join key with equal bucket counts -> the
    sort-merge join reads bucket-aligned splits and needs NO Exchange.
    The same join over plain parquet shuffles both sides."""
    from pyspark.sql import functions as F

    li = testdata.load(spark, sf_dir, "lineitem")
    orders = testdata.load(spark, sf_dir, "orders")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # baseline: plain join shuffles both sides
        p_plain = plan_str(
            li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
                "o_orderpriority"
            ).agg(F.sum("l_quantity").alias("qty"))
        )
        assert "Exchange hashpartitioning" in p_plain

        for name, df, key in (
            ("li_bkt", li, "l_orderkey"),
            ("ord_bkt", orders, "o_orderkey"),
        ):
            df.write.mode("overwrite").bucketBy(8, key).sortBy(key).saveAsTable(name)
        a, b = spark.table("li_bkt"), spark.table("ord_bkt")
        joined = a.join(b, a.l_orderkey == b.o_orderkey)
        p = plan_str(joined)
        assert "SortMergeJoin" in p
        # bucket alignment replaces both shuffles
        assert "Exchange hashpartitioning" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_analytic_queries_share_one_exchange(spark, sf_dir):
    """sessionize / asof_join_orders / window_suite each promise exactly ONE
    hash exchange: every window spec and the final aggregation share the
    same key partitioning, so Catalyst reuses a single shuffle."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in ("sessionize", "asof_join_orders", "window_suite"):
        p = plan_str(qs[name](spark, sf_dir))
        assert p.count("Exchange hashpartitioning") == 1, (name, p)


def test_jaccard_physical_strategies_pin(spark, sf_dir):
    """The byte gate picks exactly one of two pinned shapes: dense-BLAS is a
    mapInPandas scan with NO join (candidates never shuffle); the at-scale
    inverted path is a pure join+aggregate pipeline with NO Python stage."""
    from lichess_event_stream_watcher_spark.operators import dedup as D

    docs = testdata.load(spark, sf_dir, "documents")
    dense = plan_str(D.jaccard_pairs(docs, n=2, threshold=0.5))
    assert "MapInPandas" in dense
    assert "Join" not in dense
    inverted = plan_str(D.jaccard_pairs(docs, n=2, threshold=0.5, dense_bytes_limit=0))
    assert "MapInPandas" not in inverted and "PythonUDF" not in inverted
    # bucket-local pairs: the shingle pipeline is scanned ONCE and pairs
    # explode inside each posting list — no self-join, no re-scan
    assert "Join" not in inverted
    assert inverted.count("FileScan") == 1


def test_cosine_near_dup_sharded_is_map_side(spark, sf_dir):
    """Each shard pass is a mapInPandas over the corpus against a broadcast
    shard — no join, no shuffle, at any shard count."""
    from lichess_event_stream_watcher_spark.operators import similarity as S

    emb = testdata.load(spark, sf_dir, "embeddings")
    p = plan_str(S.cosine_near_dup_pairs(emb, 0.9, shard_bytes=4096))
    assert "MapInPandas" in p
    assert "Join" not in p
    assert "Union" in p  # shard passes union map-side


def test_curation_plan_shapes(spark, sf_dir):
    """dataset_split is a pure projection (0 Exchange); pack_sequences and
    source_quota hold exactly ONE hash exchange each (the shard/source
    window) plus the final agg's — never a global sort."""
    from lichess_event_stream_watcher_spark.operators import curation as C

    docs = testdata.load(spark, sf_dir, "documents")
    split = plan_str(C.dataset_split(docs))
    assert "Exchange" not in split and "Join" not in split
    pack = plan_str(C.pack_sequences(docs))
    # window partitioned by shard — hash exchange, NOT a single-partition
    # global sort (SinglePartition would serialize the cumsum)
    assert "SinglePartition" not in pack
    assert pack.count("Exchange hashpartitioning") >= 1
    # source_quota is threshold-pruned top-k: the per-source rank window
    # runs over broadcast-filtered survivors only — never a sort of the
    # raw corpus partitioned by source (a hot source would serialize)
    quota = plan_str(C.source_quota(docs))
    assert "SinglePartition" not in quota
    assert "BroadcastHashJoin" in quota
    assert "SortMergeJoin" not in quota


def test_tpch_wide_family_plan_shapes(spark, sf_dir):
    """q8/q9/q10/q14/q19 contract: dims broadcast (never nested-loop or
    cartesian), and the scan-heavy single-row aggregates (q14/q19) never
    hash-shuffle the fact table — their only exchange is the single-row
    final combine."""
    import __spark_entry__ as entry

    qs = entry.queries()
    expect_bhj = {
        "tpch_q8_market_share": 4,
        "tpch_q9_profit": 2,
        "tpch_q10_returned_items": 1,
        "tpch_q14_promo_effect": 1,
        "tpch_q19_bracket_revenue": 1,
    }
    for name, n_bhj in expect_bhj.items():
        p = plan_str(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert p.count("BroadcastHashJoin") >= n_bhj, (name, p)
    for name in ("tpch_q14_promo_effect", "tpch_q19_bracket_revenue"):
        p = plan_str(qs[name](spark, sf_dir))
        assert p.count("Exchange hashpartitioning") == 0, (name, p)


def test_pii_and_repetition_plan_shapes(spark, sf_dir):
    """pii_scrub is a pure map projection (zero exchanges, zero joins);
    repetition_profile holds exactly its two doc-local hash exchanges —
    the map-side metrics ride as grouping keys, never a join."""
    import __spark_entry__ as entry

    qs = entry.queries()
    p = plan_str(qs["pii_scrub"](spark, sf_dir))
    assert "Exchange" not in p and "Join" not in p

    p = plan_str(qs["repetition_profile"](spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "Join" not in p


def test_tpch_correlated_family_plan_shapes(spark, sf_dir):
    """q17's correlated average is ONE window exchange on l_partkey; q15's
    max-of-agg joins back as a broadcast hash (equi on rounded revenue);
    q22's only nested-loop is the deliberate 1-row stats broadcast."""
    import __spark_entry__ as entry

    qs = entry.queries()
    p = plan_str(qs["tpch_q17_small_qty_loss"](spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "CartesianProduct" not in p

    p = plan_str(qs["tpch_q15_top_supplier"](spark, sf_dir))
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p

    p = plan_str(qs["tpch_q22_idle_balances"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # the 1-row stats only


def test_tpch_final_six_plan_shapes(spark, sf_dir):
    """q2/q11/q12/q16/q20/q21 (the queries completing TPC-H 22/22): every
    dim join is broadcast-hash, no sort-merge or cartesian anywhere, and
    the wide-shuffle budget holds — q2's window shuffles aggregated
    (partkey,suppkey) pairs (2 exchanges), q12/q20 hold exactly one, q21
    three at broadcast scale (agg + window + final count)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "tpch_q2_min_cost_supplier": 2,
        "tpch_q11_important_values": 2,
        "tpch_q12_late_by_priority": 1,
        "tpch_q16_supplier_cnt": 2,
        "tpch_q20_excess_suppliers": 1,
        "tpch_q21_waiting_suppliers": 3,
    }
    for name, budget in budgets.items():
        p = plan_str(qs[name](spark, sf_dir))
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
        # q11's 1-row total is the only permitted nested-loop broadcast
        limit_bnlj = 1 if name == "tpch_q11_important_values" else 0
        assert p.count("BroadcastNestedLoopJoin") <= limit_bnlj, name
        assert p.count("Exchange hashpartitioning") <= budget, (name, p)


def test_tpch_q21_reuses_join_partitioning_at_scale(spark, sf_dir):
    """q21's at-scale shape, broadcast disabled to force the fact-fact
    sort-merge join: the (orderkey,suppkey) aggregate AND the orderkey
    window both run on the join's hash(orderkey) output with ZERO extra
    exchanges (clustering on a subset of the partition keys satisfies
    both), leaving exactly 3 exchanges total — the two SMJ inputs and the
    final s_name count. The supplier dim still broadcasts (explicit
    hint)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_str(qs["tpch_q21_waiting_suppliers"](spark, sf_dir))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert p.count("SortMergeJoin") == 1, p
    assert p.count("Exchange hashpartitioning") == 3, p
    # the window sits directly on the agg which sits on the join — no
    # exchange between them
    agg_i = p.index("Window ")
    smj_i = p.index("SortMergeJoin")
    assert "Exchange" not in p[agg_i:smj_i], p[agg_i:smj_i]


def test_global_plan_sweep_no_cartesian_no_stray_nested_loop(spark, sf_dir):
    """The whole registered query surface, one scale-contract sweep: NO
    query's physical plan may contain a CartesianProduct, and
    BroadcastNestedLoopJoin is allowed only where it is the deliberate
    1-row/tiny-broadcast cross join (kNN probe set, global thresholds).
    A new query that accidentally plans a cartesian or an unhinted
    nested-loop fails here before it ever reaches a cluster."""
    import __spark_entry__ as entry

    bnlj_allowed = {
        "knn_cosine_topk",       # broadcast probe set x corpus (intended)
        "seen_window_counts",    # 1-row global threshold broadcast
        "tpch_q11_important_values",  # 1-row total broadcast
        "tpch_q22_idle_balances",     # 1-row stats broadcast
        "funnel_view_click_purchase",  # three 1-row stage counts combined
        "ann_pq_topk",                # |queries|-row ADC table broadcast
        "ann_pq_adc",                 # same ADC-table broadcast, frozen books
        "charlm_quality",             # 1-row vocab-size broadcast
        "temperature_mix_sample",     # 1-row min-source-count broadcast
        "bm25_rsj_topk",              # 1-row (N, sum_dl) stats broadcast
        "bm25_lucene_topk",           # same 1-row stats broadcast
        "dsir_importance_q",          # 1-row (n_r, n_t) totals broadcast
        "dsir_importance_log",        # same 1-row totals broadcast
        # |query_ids|-row broadcast x streaming corpus (knn_cosine_topk's
        # shape); the label-inequality predicate has no equi-key, so BNLJ
        # is the intended physical join and the broadcast side is bounded
        # by the query-list parameter, never the corpus
        "hard_negative_mining",
        # single-group grouped_topk_threshold: the per-group threshold
        # table is exactly 1 row, and with the constant group key folded
        # away only the <=-threshold predicate remains -> BNLJ by design
        "boilerplate_ngrams",
        # composes knn_cosine_topk's probe-set broadcast and bm25's 1-row
        # stats broadcast — both bounded by construction
        "hybrid_retrieval_rrf",
        # charlm_quality's 1-row vocab-size broadcast rides along
        "ccnet_quality_buckets",
        # k-row centroid table x itself under label_a < label_b — bounded
        # by the label dimension (k*(dim+2) integers), never the corpus
        "label_centroid_confusion",
        # composes knn_cosine_topk's broadcast probe-set BNLJ as its
        # truth side — same bounded shape
        "retrieval_eval",
        # composes knn_cosine_topk's probe-set BNLJ (the exact baseline)
        # next to the IVF/LSH candidate routes — bounded by |queries| * k
        "ann_recall_eval",
        # the per-config rollup (3 rows, one per (b x r) config) cross-
        # joins the 1-row true-pair count — same funnel shape as above
        "dedup_lsh_band_sweep",
        # the brute-force row cross-joins the 1-row corpus count onto the
        # 5-row query list — bounded by |queries|
        "ann_cost_census",
    }
    bad = []
    for name, fn in sorted(entry.queries().items()):
        p = plan_str(fn(spark, sf_dir))
        if "CartesianProduct" in p:
            bad.append((name, "cartesian"))
        if "BroadcastNestedLoopJoin" in p and name not in bnlj_allowed:
            bad.append((name, "nested-loop"))
    assert not bad, bad


def test_shingle_index_probe_is_corpus_shuffle_free(spark, sf_dir):
    """The continuous-ingestion amortization: with the corpus shingle
    table materialized bucketed-by-shingle, a new batch's near-dup probe
    sort-merges against bucket-aligned splits — the CORPUS side holds
    zero Exchange (only the small batch shuffles to the bucket count),
    so per-batch cost scales with the batch, not with history. Results
    are pinned equal to the direct two-corpus join."""
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators import dedup as D

    docs = testdata.load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    base = {
        (r.new_id, r.old_id, r.jaccard)
        for r in D.jaccard_pairs_between(new, old).collect()
    }
    D.save_shingle_index(old, "corpus_sh_idx_t", buckets=8)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = D.jaccard_pairs_against_index(new, "corpus_sh_idx_t")
        p = plan_str(df)  # pre-execution plan (AQE rewrites after collect)
        assert "Bucketed: true" in p, p
        # exactly two hash exchanges globally: the batch side's shuffle to
        # the bucket count + the pair groupBy — and the one between the
        # SMJ and the bucketed corpus scan belongs to the BATCH subtree
        assert p.count("Exchange hashpartitioning") == 2, p
        smj_i = p.index("SortMergeJoin")
        scan_i = p.index("FileScan parquet spark_catalog.default.corpus_sh_idx_t")
        assert p[smj_i:scan_i].count("Exchange hashpartitioning") == 1, p
        got = {(r.new_id, r.old_id, r.jaccard) for r in df.collect()}
        assert got == base
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS corpus_sh_idx_t")


def test_tf_index_probe_is_corpus_shuffle_free(spark, sf_dir):
    """The cosine mirror of the shingle-index amortization: with the
    corpus tf posting table materialized bucketed-by-token (norms
    denormalized onto the postings), a new batch's cosine probe
    sort-merges against bucket-aligned splits — the CORPUS side holds
    zero Exchange, and the stored n2 rides the join so no corpus-sized
    id-keyed norm join exists anywhere in the plan. Results pinned equal
    to the direct two-corpus form; parameter-mismatch probes fail loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators import text as X

    docs = testdata.load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    base = {
        (r.new_id, r.old_id, r.cos_sim)
        for r in X.tf_cosine_pairs_between(new, old, threshold=0.6).collect()
    }
    X.save_tf_index(old, "corpus_tf_idx_t", buckets=8)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = X.tf_cosine_pairs_against_index(new, "corpus_tf_idx_t", threshold=0.6)
        p = plan_str(df)  # pre-execution plan (AQE rewrites after collect)
        assert "Bucketed: true" in p, p
        # the corpus branch — from its SMJ-side sort down to the bucketed
        # scan — holds NO Exchange: bucket-aligned splits feed the token
        # sort-merge directly (every other exchange belongs to batch-sized
        # subtrees: batch tf agg, batch-side token sort, dot/norm aggs)
        scan_i = p.index("FileScan parquet spark_catalog.default.corpus_tf_idx_t")
        sort_i = p.rindex("Sort [tok", 0, scan_i)
        assert "Exchange" not in p[sort_i:scan_i], p[sort_i:scan_i]
        got = {(r.new_id, r.old_id, r.cos_sim) for r in df.collect()}
        assert got == base
        with _pytest.raises(ValueError, match="tf-index mismatch"):
            X.tf_cosine_pairs_against_index(
                new, "corpus_tf_idx_t", threshold=0.6, max_token_df=5
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS corpus_tf_idx_t")


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew evidence for the 100 TB story: a join whose left side
    is 90% one hot key must come out of AQE with the hot partition SPLIT
    (SortMergeJoin(skew=true) + an AQEShuffleRead marked skewed) instead of
    one straggler task — the engine-level backstop behind every equi-join
    here whose key distribution is data-dependent. Thresholds are scaled
    down to test size; the mechanism is identical at production sizes."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(300000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(2000).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
        j = left.join(right, "k")
        n = len(j.collect())  # execute THIS dataset so its plan finalizes
        # hot key 0: 270000 matches; cold keys are ids = 9 mod 10, of which
        # 9, 19, ..., 1999 fall inside the 2000-key dim -> 200 matches
        assert n == 270000 + 200
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p
        assert "SortMergeJoin(skew=true)" in p, p[:2000]
        assert "skewed" in p, p[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_round3_operator_plan_shapes(spark, sf_dir):
    """Plan pins for the round-3 operator family:

    - semantic_dedup: cell assignment is map-side (the only joins are the
      cell-local equi self-join and the verdict join — no cartesian, no
      nested loop);
    - bloom probe: the word table joins BROADCAST (bounded by m/32 rows),
      the batch side is never exchanged for it;
    - epoch_shuffle: windows partition by shard — never a single-partition
      global sort;
    - quantized k-means assignment: pure projection, zero shuffle, zero
      join."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators import dedup as D
    from lichess_event_stream_watcher_spark.operators import similarity as S

    qs = entry.queries()
    p = plan_str(qs["semantic_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    docs = testdata.load(spark, sf_dir, "documents")
    words = D.bloom_filter_words(docs, "doc_id")
    p = plan_str(D.bloom_probe(docs, words, "doc_id"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p

    p = plan_str(qs["epoch_shuffle"](spark, sf_dir))
    assert "SinglePartition" not in p

    emb = testdata.load(spark, sf_dir, "embeddings")
    cents = [[0] * 64 for _ in range(8)]
    p = plan_str(S.kmeans_cells_quantized(emb, cents))
    assert "Exchange" not in p and "Join" not in p


def test_kmv_sketch_plan_has_no_rank_over_raw_distinct(spark, sf_dir):
    """The KMV sketch must realize its own bounded-state contract
    physically: NO per-type rank/sort window over the raw distinct hash
    set (one hot type would concentrate its whole cardinality in one
    task). The threshold-pruned k-min keeps only min/collect aggregates
    (bounded per-group inputs by construction) and a broadcast threshold
    join."""
    import __spark_entry__ as entry

    p = plan_str(entry.queries()["kmv_distinct_sketch"](spark, sf_dir))
    assert "Window" not in p, p
    assert "BroadcastHashJoin" in p  # the pruning threshold broadcasts
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_bpe_and_bm25_plan_shapes(spark, sf_dir):
    """Round-4 operator pins:

    - bpe_merge_ranks: the global top-20 is TakeOrderedAndProject
      (per-partition heaps), never a full global sort of the pair table;
      no joins at all.
    - bm25: the query-term filter reaches the token stream BEFORE any
      aggregation (postings only for query terms), the query/df/stats
      dims all join broadcast, and nothing plans a cartesian product."""
    import __spark_entry__ as entry

    p = plan_str(entry.queries()["bpe_merge_ranks"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "Join" not in p

    # the rsj form serves sf-test inputs from the round-11 one-collect
    # tier (LocalTableScan); pin the DISTRIBUTED shape — the 100 TB plan
    # — by disabling the small-corpus gate (same conf-toggle discipline
    # as the jaccard pins)
    with forced_distributed(spark):
        p = plan_str(entry.queries()["bm25_rsj_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_ann_serving_topk_plans_are_threshold_pruned(spark, sf_dir):
    """Round-5 pin (r4 verdict "What's wrong #2"): the ANN serving final
    top-k must never be a plain per-query rank window over the scored
    corpus — PQ scores ALL n corpus rows per query and IVF/IVF-PQ score
    ~n·nprobe/cells, so at 1e9 vectors the window form funnels a
    corpus-sized candidate set into one task per query. Every serving
    plan must instead show grouped_topk_threshold's machinery below its
    single rank window: the salt-partial extremum agg (_salt) and the
    broadcast threshold filter (_thr), which cap the window's input at
    ~O(k) survivors per query. Asserted over every registered serving
    query that scores candidates (pq / ivfpq / ivf / trained / adc)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in (
        "ann_pq_topk",
        "ann_ivfpq_topk",
        "ann_ivf_topk",
        "ann_ivf_trained_q",
        "ann_ivf_trained",
        "ann_pq_adc",
        "ann_ivfpq_adc",
    ):
        p = plan_str(qs[name](spark, sf_dir))
        assert "_thr" in p, f"{name}: no threshold-prune filter\n{p}"
        assert "_salt" in p, f"{name}: no salt-partial extremum\n{p}"
        assert "CartesianProduct" not in p, name


def test_tf_cosine_flagship_never_plans_uncapped_token_self_join(spark, sf_dir):
    """Round-6 pin (r5 verdict "What's wrong #1"): tf_cosine's registered
    flagship must never run the uncapped postings self-join — its shuffle
    volume is sum(df^2) over tokens, and on a Zipfian web corpus the top
    stop token alone makes that ~corpus^2. Three asserted shapes:

    - the adaptive flagship on this tiny-vocab corpus takes the dense
      MapInPandas BLAS path (no join at all);
    - forced sparse (the at-scale route), the DEFAULT strategy is the
      AllPairs prefix filter: bucket-local chunked pair machinery present,
      and no Join anywhere carrying the postings path's signature
      condition (id_a < id_b pushed into a token-keyed join);
    - the postings form still exists but only behind an explicit
      max_token_df cap (the only configuration where it is scale-safe).
    """
    import __spark_entry__ as entry

    from lichess_event_stream_watcher_spark.operators.text import tf_cosine_pairs

    flagship = plan_str(entry.queries()["tf_cosine_pairs"](spark, sf_dir))
    assert "MapInPandas" in flagship  # dense BLAS pair search
    # the only join the dense path plans is the broadcast vocab-index
    # lookup; pairs themselves never join or shuffle
    assert not re.search(r"Join.*id_a.*<.*id_b", flagship), flagship
    assert "SortMergeJoin" not in flagship

    docs = testdata.load(spark, sf_dir, "documents")
    sparse = plan_str(
        tf_cosine_pairs(docs, threshold=0.8, dense_vocab_limit=0)
    )
    assert "flatten(transform(chunks" in sparse  # bucket-local pairs, no self-join
    assert not re.search(r"Join.*id_a.*<.*id_b", sparse), sparse
    assert "CartesianProduct" not in sparse

    capped = plan_str(
        tf_cosine_pairs(docs, threshold=0.8, dense_vocab_limit=0, max_token_df=10**9)
    )
    assert re.search(r"Join.*id_a.*<.*id_b", capped)  # postings only when capped

    registered_sparse = plan_str(entry.queries()["tf_cosine_pairs_sparse"](spark, sf_dir))
    assert "flatten(transform(chunks" in registered_sparse
    assert not re.search(r"Join.*id_a.*<.*id_b", registered_sparse)


def test_robust_stats_plan_has_no_corpus_sort_window(spark, sf_dir):
    """embedding_robust_stats must never rank the raw exploded corpus
    per dimension (that caps parallelism at the dim count and grows one
    task's sort with the corpus). The two-pass form's windows run only
    over pre-aggregated bucket/value-count tables: no row_number
    anywhere, and the target-bucket prune joins broadcast."""
    import __spark_entry__ as entry

    p = plan_str(entry.queries()["embedding_robust_stats"](spark, sf_dir))
    assert "row_number" not in p, p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_round4_late_additions_exchange_budgets(spark, sf_dir):
    """Declared exchange budgets for the round-4 late additions:
    corpus_token_accounting = fp groupBy + fp join + (source,lang) rollup
    (3 hash exchanges at most, keeps side 1-row-per-fp); boilerplate
    n-gram mining = shingle doc-freq agg + the threshold-pruned top-k's
    internal salt-partial/threshold passes (<=4); the JL projection's
    zero-Exchange pin lives with its numpy twin in test_pipeline_ops."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "corpus_token_accounting": 3,
        "boilerplate_ngrams": 4,
        # ONE gram scan: grouping-sets Expand(x2) mixed-key agg + the
        # per-doc total/novel rollup + source rollup; doc-keyed joins
        # broadcast (tiny projections at this SF)
        "ngram_novelty_profile": 3,
        # centroid partial agg + label rollup; the k-row centroid table
        # broadcasts by explicit hint (bounded at k*dim integers)
        "label_centroid_dispersion": 2,
        # the k x k pair join is on the broadcast centroid table; the two
        # exchanges are the centroid partial agg computed once per join
        # branch (the self-join duplicates the tiny k-row subtree)
        "label_centroid_confusion": 2,
        # refine-pass action only (the histogram pass is a compose-time
        # bounded driver action): crossing-bucket window + final rollups
        "token_budget_sample": 3,
        # (source, shingle) distinct + per-shingle sets + pair rollup,
        # plus the counts branch re-deriving the distinct subtree
        "source_overlap_matrix": 6,
        # winnowed postings: fp-df cap agg (partitioning reused by the
        # fp join) + pair rollup
        "winnowing_dup_pairs": 3,
        # trained-LR scoring: map-side projection with inlined weight
        # literals + the single per-source rollup (training runs as
        # separate bounded d+1-number aggs at build time, not in this plan)
        "quality_lr_source_scores": 1,
        # (source, term) agg + the threshold-pruned top-k's salt-partial /
        # threshold / survivor-rank passes + octave rollup + the tiny
        # per-source reference-mass window
        "zipf_octave_profile": 5,
        # tf/df/mass all hang off ONE (term, source) aggregate (the
        # count_distinct expands it two-level); the three consumer
        # branches and the top-k's threshold branch re-reference that
        # same subtree, which AQE dedupes at runtime — see
        # test_distinctive_terms_reuses_base_exchange
        "distinctive_terms_by_source": 15,
        # trained-PCA projection histogram: map-side projection with the
        # direction inlined + one tiny (label x ~20 bins) rollup (the 8
        # power rounds are separate bounded d-sum aggs at build time)
        "embedding_pca_projection_q": 2,
        # two grouped_exact_quantiles passes (median + MAD; bucket-table
        # windows only) + the dev/flag branches re-deriving the cheap
        # docs-scan subtree; every exchange bounded by bucket-table size
        "robust_length_outliers": 23,
        # (type, bin) cell agg + the per-type marginal window + rollup —
        # state bounded by the bin-table size, never the event count
        "histogram_drift_tv": 4,
        # (source, lang) counts + the per-source moment rollup
        "source_label_gini": 4,
        # unigram + bigram hash aggs and the two vocab joins; the global
        # top-20 is TakeOrderedAndProject (asserted below), no extra sort
        "collocation_lift_topk": 5,
        # one 5-sum sufficient-statistics agg per type
        "ols_trend_by_type": 1,
        # (type, hour) bucket agg first; every window runs over that
        # bounded table and shares its partitioning + final rollup
        "cusum_hourly_changepoint": 2,
        # per-user conditional-min agg + one global rollup
        "funnel_conversion": 2,
        # one per-user lead window + the |types|^2 transition agg
        "event_transition_matrix": 2,
        # (type, hour) bucket agg; per-type stats, hour self-join, and the
        # literal-pair joins all run over that bounded table
        "hourly_corr_pairs": 8,
        # (source, lang) cell agg + three marginal windows + final rollup
        "source_lang_cramers_v": 5,
        # 9-group digit agg + the single-partition total window
        "benford_first_digit": 2,
        # per-key count + tiny rollup, x3 relations
        "join_key_profile": 6,
        # one QI-tuple count (the only corpus-sized exchange) + 3-row rollup
        "k_anonymity_audit": 2,
        # first-seen agg + distinct-activity agg + user join + triangle
        # rollup (the two agg subtrees both partition by user_id)
        "retention_cohorts": 4,
    }
    for name, budget in budgets.items():
        p = plan_str(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in p, name
        assert p.count("Exchange hashpartitioning") <= budget, (name, p)


def test_distinctive_terms_reuses_base_exchange(spark, sf_dir):
    """The tf / per-term df / per-source mass branches all reference one
    (term, source) aggregate: after execution AQE must have replaced the
    duplicate subtrees with ReusedExchange nodes (corpus scanned once),
    not re-run the token explode per branch."""
    import __spark_entry__ as entry

    df = entry.queries()["distinctive_terms_by_source"](spark, sf_dir)
    df.collect()  # executes THIS DataFrame's own queryExecution (count()
    # would execute a derived plan and leave df's AQE plan non-final)
    p = plan_str(df)
    assert "ReusedExchange" in p, p


def test_weighted_priority_sample_is_top_k_pruned(spark, sf_dir):
    """Global weighted selection must run as TakeOrderedAndProject
    (per-partition top-k pruning, O(k) state per task) with zero
    exchanges — never a full sort."""
    import __spark_entry__ as entry

    p = plan_str(entry.queries()["weighted_priority_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "Exchange hashpartitioning" not in p, p


def test_collocation_topk_is_pruned(spark, sf_dir):
    """The global top-20 by lift must run as TakeOrderedAndProject, and
    the only joins are the two vocab hash joins — no nested loop."""
    import __spark_entry__ as entry

    p = plan_str(entry.queries()["collocation_lift_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_gopher_rules_plan_is_one_scan_no_shuffle(spark, sf_dir):
    """The Gopher battery is a pure map-side projection: no Exchange, no
    Join anywhere — 100 TB is embarrassingly parallel. The per-source
    rollup adds exactly one partial-aggregating Exchange."""
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators import text as X

    docs = testdata.load(spark, sf_dir, "documents")
    p = plan_str(X.gopher_quality_rules(docs))
    assert "Exchange" not in p and "Join" not in p
    rollup = X.gopher_quality_rules(docs, carry_cols=["source"]).groupBy("source").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep")
    )
    pr = plan_str(rollup)
    assert pr.count("Exchange") == 1 and "partial" in pr.lower()


def test_c4_line_filter_plan_shape(spark, sf_dir):
    """C4 line stats: exploded lines feed Tungsten hash aggregation (no
    interpreted per-line HOF); exactly one doc-keyed Exchange, no Join
    (page flags ride the groupBy keys)."""
    from lichess_event_stream_watcher_spark.operators import text as X

    docs = testdata.load(spark, sf_dir, "documents")
    p = plan_str(X.c4_line_filter(docs))
    assert "Join" not in p
    assert p.count("Exchange") == 1
    assert "Generate explode" in p or "explode" in p


def test_unimax_corpus_exchange_is_single_partial_agg(spark, sf_dir):
    """UniMax: the ONLY corpus-sized exchange is the per-source token-sum
    partial agg; everything after runs on the bounded source dimension
    (the single-partition window is over ~#sources rows by contract)."""
    from lichess_event_stream_watcher_spark.operators import curation as C

    docs = testdata.load(spark, sf_dir, "documents")
    p = plan_str(C.unimax_allocation(docs, budget_tokens=10_000, max_epochs=2))
    # corpus agg -> one shuffle; the dimension window adds its own
    # single-partition exchange over 20 rows — assert the corpus side
    # partial-aggregates before any exchange
    assert "partial" in p.lower()
    assert "Join" not in p or "BroadcastHashJoin" in p


def test_lsh_band_sweep_computes_signatures_once(spark, sf_dir):
    """The (b x r) sweep must feed all three configs from ONE MinHash
    aggregation: exactly one shingle-exploding Generate in the plan (a
    per-config recomputation would show three), and the full pipeline is
    the lsh_candidate_pairs exchange budget plus nothing — shingle
    spread, signature agg, bucket groupBy, chunk respread, distinct.
    This pins the DISTRIBUTED (at-scale) shape, so the round-10
    small-corpus driver tier is disarmed via the conf toggle (test-sized
    corpora otherwise take the LocalTableScan tier)."""
    from lichess_event_stream_watcher_spark.operators import dedup as D

    docs = testdata.load(spark, sf_dir, "documents")
    with forced_distributed(spark):
        p = plan_str(D.lsh_band_sweep(docs, band_counts=(2, 4, 8), k=16, n=2))
    assert len(re.findall(r"Generate explode.*shingle", p)) == 1, p
    assert p.count("Exchange") == 5, p
    assert "Join" not in p


def test_lsh_bucket_histogram_plan_no_join_bounded_exchanges(spark, sf_dir):
    """The banding skew census must cost exactly the candidate stage's
    signature work and nothing more: shingle spread, signature agg,
    bucket groupBy, size recount — 4 exchanges, zero joins, and the
    corpus is never re-shuffled after the signature aggregation (every
    later exchange carries bucket counts / distinct sizes, not docs)."""
    from lichess_event_stream_watcher_spark.operators import dedup as D

    docs = testdata.load(spark, sf_dir, "documents")
    p = plan_str(D.lsh_bucket_histogram(docs, k=16, bands=4, n=2))
    assert p.count("Exchange") == 4, p
    assert "Join" not in p, p
    # map-side partial aggregation before each shuffle of counts
    assert "partial" in p.lower()


def test_ivf_cell_occupancy_plan_corpus_never_shuffles(spark, sf_dir):
    """The occupancy audit's corpus cost must be one map-side cell
    assignment + a k-group partial agg: the only hash exchange carries
    k-sized partials (never corpus vectors), the centroid-dimension
    zeros join is broadcast-hash, and nothing sort-merges."""
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark.operators import similarity as S

    emb = testdata.load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").between(8, 15)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    p = plan_str(S.ivf_cell_occupancy(emb, cents))
    assert "SortMergeJoin" not in p, p
    assert p.count("BroadcastHashJoin") == 1, p
    # one hash exchange (the k-group agg) + the broadcast exchange
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
    assert "partial" in p.lower()


def test_semantic_dedup_auto_plan_shape(spark, sf_dir):
    """The production SemDeDup form keeps the regression form's plan
    contract: cell assignment stays a map-side literal projection (no
    cartesian/nested-loop join anywhere), and the only joins are the
    cell-local equi self-join plus the verdict join."""
    import __spark_entry__ as entry

    qs = entry.queries()
    p = plan_str(qs["semantic_dedup_auto"](spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
