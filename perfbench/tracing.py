"""The traced-run mode: spans around the calls into each layer.

Spans are recorded from the benchmark's own files by wrapping the public
functions the program calls across layer boundaries; the program itself is
not changed. Each span keeps (id, name, start, end, parent, batch) in
memory, and ``Tracer.write`` saves them as JSON lines when the run ends. A
layer's self time is its span's duration minus the time its child spans
cover.

Spark work per engine batch (jobs and tasks) is read from the status
tracker, under a job group the wrapper sets for the batch and restores
afterwards.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

BATCH_SPANS = ("engine.process_batch", "engine.dryrun")
SELF_SPANS = {
    "engine.process_batch": "trace.self_ms.process_batch",
    "engine.dryrun": "trace.self_ms.dryrun",
    "engine.collect": "trace.self_ms.collect",
    "compile.matches_column": "trace.self_ms.compile",
    "store.caught": "trace.self_ms.store_caught",
    "store.save": "trace.self_ms.store_save",
    "curation.pass": "trace.self_ms.curation_pass",
}


class Tracer:
    def __init__(self):
        self.spans: list[tuple[int, str, float, float, int | None, int | None]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.batch_work: dict[int, tuple[int, int]] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[int, str, int | None]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> str | None:
        st = self._stack()
        return st[-1][1] if st else None

    def call(self, name: str, fn, *args, batch: int | None = None, **kwargs):
        """Run ``fn`` inside a span; a span without a batch id takes its
        parent's."""
        st = self._stack()
        parent = st[-1] if st else None
        if batch is None and parent is not None:
            batch = parent[2]
        pid = parent[0] if parent else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append((sid, name, 0.0, 0.0, pid, batch))
        st.append((sid, name, batch))
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            st.pop()
            self.spans[sid] = (sid, name, t0, t1, pid, batch)

    def patch(self, owner, attr: str, make_wrapper) -> None:
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, make_wrapper(orig))

    def unpatch(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _, n, t0, t1, _, _ in self.spans if n == name and t1 > 0]

    def per_batch(self, name: str) -> dict[int, float]:
        out: dict[int, float] = defaultdict(float)
        for _, n, t0, t1, _, b in self.spans:
            if n == name and b is not None and t1 > 0:
                out[b] += t1 - t0
        return out

    def self_times(self) -> dict[str, float]:
        """Total self seconds per span name."""
        child: dict[int, float] = defaultdict(float)
        for _, _, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 > 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, name, t0, t1, _, _ in self.spans:
            if t1 > 0:
                out[name] += (t1 - t0) - child[sid]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, batch in self.spans:
                rec = {"id": sid, "name": name, "start": t0, "end": t1, "parent": parent, "batch": batch}
                f.write(json.dumps(rec) + "\n")


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def spark_work(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


def in_job_group(sc, group: str, fn, *args, **kwargs):
    prev = {k: sc.getLocalProperty(k) for k in _GROUP_KEYS}
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        return fn(*args, **kwargs)
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


def install_engine_tracing(tracer: Tracer, run) -> None:
    """Wrap the engine's batch, its collect, the rule-scan compile and the
    rules store."""
    from lichess_event_stream_watcher_spark.control import engine as engine_mod
    from lichess_event_stream_watcher_spark.rules.store import SignupRulesManager

    sc = run.spark.sparkContext
    ids = itertools.count()

    def wrap_batch(orig):
        def process_batch(self, df, hypothetical=False):
            n = next(ids)
            name = BATCH_SPANS[1] if hypothetical else BATCH_SPANS[0]
            group = f"perfbench-batch-{n}"
            try:
                return in_job_group(sc, group, tracer.call, name, orig, self, df, hypothetical, batch=n)
            finally:
                tracer.batch_work[n] = spark_work(sc, group)

        return process_batch

    def wrap_collect(orig):
        def toPandas(self):
            if tracer.current() not in BATCH_SPANS:
                return orig(self)
            outer = tracer.current()
            out = tracer.call("engine.collect", orig, self)
            if outer == BATCH_SPANS[0]:
                tracer.counts["engine.collect_rows"] += len(out)
            return out

        return toPandas

    def wrap_compile(orig):
        def matches_column(*args, **kwargs):
            tracer.counts["compile.calls"] += 1
            return tracer.call("compile.matches_column", orig, *args, **kwargs)

        return matches_column

    def wrap_caught(orig):
        def caught(self, *args, **kwargs):
            tracer.counts["store.caught_calls"] += 1
            return tracer.call("store.caught", orig, self, *args, **kwargs)

        return caught

    def wrap_save(orig):
        def save(self):
            tracer.counts["store.save_calls"] += 1
            out = tracer.call("store.save", orig, self)
            if self.rules_path:
                tracer.counts["store.bytes_written"] += os.path.getsize(self.rules_path)
            return out

        return save

    tracer.patch(engine_mod.Engine, "process_batch", wrap_batch)
    # the concrete class: the engine's frames are classic-mode DataFrames,
    # which override toPandas
    tracer.patch(type(run.spark.range(0)), "toPandas", wrap_collect)
    tracer.patch(engine_mod, "matches_column", wrap_compile)
    tracer.patch(SignupRulesManager, "caught", wrap_caught)
    tracer.patch(SignupRulesManager, "save", wrap_save)


def engine_layer_metrics(tracer: Tracer, run, cpu: dict, jvm_rss_mb: float, run_ids=None) -> dict:
    """Per-layer figures of an engine workload's traced run."""
    batches = {b: d for b, d in tracer.per_batch(BATCH_SPANS[0]).items()}
    collect = tracer.per_batch("engine.collect")
    store = tracer.per_batch("store.caught")
    work = [tracer.batch_work[b] for b in batches if b in tracer.batch_work]
    out = dict(run.progress_metrics(run_ids))
    out.update(
        {
            "engine.batch_ms_p50": _p50([d * 1000 for d in batches.values()]),
            "engine.collect_ms_p50": _p50([collect.get(b, 0.0) * 1000 for b in batches]),
            "engine.jobs_per_batch": _p50([j for j, _ in work]),
            "engine.tasks_per_batch": _p50([t for _, t in work]),
            "engine.collect_rows": tracer.counts["engine.collect_rows"] / max(len(batches), 1),
            "engine.driver_ms_p50": _p50(
                [(d - collect.get(b, 0.0) - store.get(b, 0.0)) * 1000 for b, d in batches.items()]
            ),
            "engine.dryrun_batch_ms_p50": _p50([d * 1000 for d in tracer.durations(BATCH_SPANS[1])]),
            "compile.calls": tracer.counts["compile.calls"],
            "compile.ms_total": sum(tracer.durations("compile.matches_column")) * 1000,
            "store.caught_calls": tracer.counts["store.caught_calls"],
            "store.save_calls": tracer.counts["store.save_calls"],
            "store.save_ms_total": sum(tracer.durations("store.save")) * 1000,
            "store.bytes_written": tracer.counts["store.bytes_written"],
            "sinks.mod_api_posts": len(run.api.posts),
            "sinks.notify_posts": sum(1 for p in run.messages.posts if p[2] == "notify"),
            "sinks.log_posts": sum(1 for p in run.messages.posts if p[2] == "log"),
            "sinks.command_posts": sum(1 for p in run.messages.posts if p[2] == "command"),
        }
    )
    out.update(probe_layers(run))
    out.update(proc_metrics(cpu, jvm_rss_mb))
    return out


def proc_metrics(cpu: dict, jvm_rss_mb: float) -> dict:
    return {
        "proc.jvm_cpu_s": cpu["jvm_cpu_s"],
        "proc.py_driver_cpu_s": cpu["py_driver_cpu_s"],
        "proc.py_worker_cpu_s": cpu["py_worker_cpu_s"],
        "proc.jvm_rss_mb": jvm_rss_mb,
    }


def probe_layers(run, reps: int = 3) -> dict:
    """Each layer's public function alone on one fixed sample batch (the
    first 10,000 lines of the seed's bot_wave backlog), written to a noop
    sink; the median of ``reps`` runs after one warm-up."""
    from pyspark.sql import functions as F

    import inputs
    from lichess_event_stream_watcher_spark.operators.enrich import device_info_column, enrich_geoip_banded
    from lichess_event_stream_watcher_spark.plans.compile import matches_column
    from lichess_event_stream_watcher_spark.rules.model import CriterionKind
    from lichess_event_stream_watcher_spark.streaming.source import parse_signup_lines

    spark = run.spark
    lines = [x for i in range(20) for x in inputs.landing_file(run.seed, "bot_wave", i, 500, 0.12)]
    raw = spark.createDataFrame([(x,) for x in lines], "value string").repartition(
        spark.sparkContext.defaultParallelism
    ).cache()
    raw.count()
    parsed = parse_signup_lines(raw).drop("ingest_time").cache()
    parsed.count()
    enriched = enrich_geoip_banded(
        parsed.withColumn("device", device_info_column(F.col("user_agent"))), run.ranges_df
    ).cache()
    enriched.count()
    active = run.store.active_rules()
    plain = [r for r in active if r.criterion.kind is not CriterionKind.CODE]
    code = [r for r in active if r.criterion.kind is CriterionKind.CODE]
    cols = {"geoip": "geoip", "device": "device"}
    probes = {
        "parse.probe_ms": lambda: parse_signup_lines(raw),
        "enrich.device_probe_ms": lambda: parsed.withColumn("device", device_info_column(F.col("user_agent"))),
        "enrich.geoip_probe_ms": lambda: enrich_geoip_banded(parsed, run.ranges_df),
        "compile.scan_probe_ms": lambda: enriched.withColumn("m", matches_column(plain, cols=cols)),
        "lua.code_rule_probe_ms": lambda: enriched.withColumn("m", matches_column(code, cols=cols)),
    }
    out = {}
    for name, make in probes.items():
        times = []
        for k in range(reps + 1):
            t0 = time.perf_counter()
            make().write.format("noop").mode("overwrite").save()
            if k:
                times.append((time.perf_counter() - t0) * 1000)
        out[name] = _p50(times)
    for df in (enriched, parsed, raw):
        df.unpersist()
    return out
