"""The ``corpus_curation`` workload: ``pipeline.curate_corpus`` over a
seeded 5,000-document corpus, repeated. The set-up pass is the warm-up:
the window's first pass is slower than the later ones on every run alike,
and the window's median pass discounts it.

This is the only workload that runs the ``operators`` package (dedup,
text, pii, curation); the engine layers do no work here.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import expect
import inputs
import procstat

STAGES = ["exact_dedup", "near_dedup", "quality_gate", "mix_sample", "chunks"]
# Exact copies that differ only in tab or newline padding. Lower-casing,
# trimming and collapsing whitespace makes them one text, but the program
# keeps three: its normalization trims spaces only, before it collapses
# whitespace. Each round runs this probe once, after its pass and outside
# the timing; it fails on every round until that is mended, and is counted
# in ``failed``, not in the checks.
PAD_PROBE = ["data scan", "\tdata  scan", "DATA scan\n"]


def pad_probe(spark) -> bool:
    from lichess_event_stream_watcher_spark.operators.dedup import exact_dedup_groups

    df = spark.createDataFrame(list(enumerate(PAD_PROBE)), "doc_id long, text string")
    return exact_dedup_groups(df).count() == len({expect.normalized_text(t) for t in PAD_PROBE})


def run_curation(seed: int, seconds: int, tracer, t_start: float, work: str) -> dict:
    import pandas as pd

    from lichess_event_stream_watcher_spark.pipeline import curate_corpus
    from lichess_event_stream_watcher_spark.session import get_spark

    spark = get_spark("perfbench-corpus_curation")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    docs = inputs.corpus(seed)
    path = os.path.join(work, "documents.parquet")
    pd.DataFrame(docs).to_parquet(path, index=False)

    def one_pass(stage_seconds=None):
        return curate_corpus(spark.read.parquet(path), stage_seconds=stage_seconds)

    def check_pass(out):
        """The pass's counts and chunked doc ids, collected after the pass
        and outside its timing."""
        chunks, counts = out
        ids = {r[0] for r in chunks.select("id").distinct().collect()}
        chunks.unpersist()
        return counts, ids

    first = one_pass()
    setup_s = time.time() - t_start
    results = [check_pass(first)]
    probes_failed = int(not pad_probe(spark))

    if tracer is not None:
        from tracing import in_job_group, spark_work

    times, stage_s, work_counts = [], [], []
    cpu = dict.fromkeys(procstat.sample(), 0.0)
    busy = 0.0
    while busy < seconds:
        st: dict[str, float] = {}
        c0 = procstat.sample()
        t0 = time.perf_counter()
        if tracer is None:
            out = one_pass(st)
        else:
            group = f"perfbench-pass-{len(times)}"
            out = in_job_group(sc, group, tracer.call, "curation.pass", one_pass, st)
        dt = time.perf_counter() - t0
        c1 = procstat.sample()
        cpu = {k: cpu[k] + c1[k] - c0[k] for k in cpu}
        if tracer is not None:
            work_counts.append(spark_work(sc, group))
        results.append(check_pass(out))
        probes_failed += int(not pad_probe(spark))
        times.append(dt)
        stage_s.append(st)
        busy += dt
    rss = procstat.driver_peak_rss_mb()

    n = len(docs)
    e2e = {
        "setup_s": setup_s,
        "latency_ms_p50": statistics.median(times) * 1000,
        "cpu_ms_per_item": procstat.tree_cpu_s(cpu) * 1000 / (n * len(times)),
        "driver_rss_mb": rss,
    }

    checks = expect.Checks(["exact_dedup_count", "stage_counts_shrink", "survivors_subset", "passes_identical"])
    distinct = len({expect.normalized_text(d["text"]) for d in docs})
    keep_exact = {}
    for d in docs:
        keep_exact.setdefault(expect.normalized_text(d["text"]), d["doc_id"])
    exact_ids = set(keep_exact.values())
    counts0, ids0 = results[0]
    checks.check(
        "exact_dedup_count",
        counts0["exact_dedup"] == distinct,
        f"{counts0['exact_dedup']} kept, {distinct} distinct normalized texts",
    )
    seq = [counts0["input"]] + [counts0[s] for s in STAGES[:-1]]
    checks.check("stage_counts_shrink", counts0["input"] == n and seq == sorted(seq, reverse=True), str(counts0))
    checks.check(
        "survivors_subset",
        ids0 <= exact_ids and len(ids0) <= counts0["mix_sample"],
        f"{len(ids0 - exact_ids)} chunked docs outside the exact-dedup survivors",
    )
    for counts, ids in results[1:]:
        checks.check("passes_identical", counts == counts0 and ids == ids0, f"{counts} != {counts0}")

    layers = None
    if tracer is not None:
        from tracing import proc_metrics

        layers = {f"curation.{s}_s": statistics.median(x[s] for x in stage_s) for s in STAGES}
        layers["curation.docs_per_s"] = n / statistics.mean(times)
        layers["curation.jobs"] = statistics.median(j for j, _ in work_counts)
        layers["curation.tasks"] = statistics.median(t for _, t in work_counts)
        layers.update(proc_metrics(cpu, c1["jvm_rss_mb"]))
    print(
        f"corpus_curation: {len(times)} timed passes "
        f"({', '.join(f'{t:.2f}' for t in times)} s), counts {counts0}",
        file=sys.stderr,
    )
    # operations: one curation pass and one padding probe per round
    return {"e2e": e2e, "layers": layers, "checks": checks, "attempted": 2 * len(results), "failed": probes_failed}
