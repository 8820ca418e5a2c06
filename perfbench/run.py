"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload live_signups --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, taken in a
separate traced run, and the spans are written under ``.perfbench_work/``.
The check summary and the tracing overhead go to standard error.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lichess_event_stream_watcher_spark"
WORKLOADS = ("live_signups", "bot_wave", "corpus_curation")

def _prepare_env(work: str) -> None:
    """Shipped configuration, with every scratch file kept in the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)


def _stop_spark() -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: the program ({PACKAGE}/) is not in {ROOT}; run from a checkout", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}

    from tracing import SELF_SPANS, Tracer

    tracer = Tracer() if a.trace else None
    if a.workload == "corpus_curation":
        from curation_wl import run_curation as fn
    elif a.workload == "live_signups":
        from engine_wl import run_live as fn
    else:
        from engine_wl import run_bot as fn
    try:
        res = fn(a.seed, a.seconds, tracer, T_START, work)
    finally:
        _stop_spark()

    checks = res["checks"]
    print(checks.summary(), file=sys.stderr)
    last = os.path.join(base, f"untraced-{a.workload}.json")
    if tracer is None:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in e2e_units.items()}
        with open(last, "w") as f:
            json.dump(res["e2e"], f)
    else:
        layers = dict(res["layers"])
        selfs = tracer.self_times()
        for span, name in SELF_SPANS.items():
            layers[name] = selfs.get(span, 0.0) * 1000
        # a layer the workload does not run reads 0
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in layer_units.items()}
        spans = os.path.join(base, f"spans-{a.workload}-{a.seed}.jsonl")
        tracer.write(spans)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(spans, ROOT)}", file=sys.stderr)
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)
            for k, v in res["e2e"].items():
                if untraced.get(k):
                    print(
                        f"tracing overhead: {k} {v:.4g} traced vs {untraced[k]:.4g} untraced "
                        f"({(v / untraced[k] - 1) * 100:+.1f}%)",
                        file=sys.stderr,
                    )
        else:
            print("tracing overhead: no untraced run of this workload to compare", file=sys.stderr)
    print(
        json.dumps(
            {"correct": checks.ok(), "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
