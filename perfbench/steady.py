"""Steadiness command: run each workload N times, one fresh process and
one seed per run, and print the median and quartiles of every end-to-end
metric with its spread (interquartile distance over the median) against
the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --first-seed 1
    python3 perfbench/steady.py --runs 5 --workloads live_signups --with-trace

``--with-trace`` follows each run with a traced run of the same seed and
reports the tracing overhead (traced over untraced, per metric). Results
are also saved as JSON under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--with-trace", action="store_true")
    a = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        runs, overhead = [], {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            res, err = run_once(w, seed, a.seconds, 0)
            wall = time.time() - t0
            runs.append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                  f"wall={wall:.0f}s {vals}", flush=True)
            print("".join("    " + ln for ln in err.splitlines(True) if ln.startswith(f"{w}:")), end="", flush=True)
            if a.with_trace:
                _, err = run_once(w, seed, a.seconds, 1)
                for m in re.finditer(r"tracing overhead: (\S+) .*\(([-+][\d.]+)%\)", err):
                    overhead.setdefault(m.group(1), []).append(float(m.group(2)))
        rep = {"correct": all(r["correct"] for r in runs),
               "failed_share": sorted({r["failed"] / r["attempted"] for r in runs}), "metrics": {}}
        for k in runs[0]["metrics"]:
            xs = [r["metrics"][k]["value"] for r in runs]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("inf")
            rep["metrics"][k] = {"q1": q1, "median": med, "q3": q3, "spread": spread, "values": xs}
            bound = bounds.get(k)
            verdict = "" if bound is None else (
                "ok" if spread <= bound / 3 else "within bound" if spread <= bound else "TOO WIDE")
            print(f"  {w:16s} {k:16s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:6.3f}  bound {bound}  {verdict}", flush=True)
        for k, xs in overhead.items():
            print(f"  {w:16s} tracing overhead {k}: median {statistics.median(xs):+.1f}%", flush=True)
        rep["tracing_overhead_pct"] = {k: statistics.median(xs) for k, xs in overhead.items()}
        print(f"  {w}: all correct={rep['correct']}, failed shares {rep['failed_share']}", flush=True)
        report[w] = rep
    out = os.path.join(ROOT, ".perfbench_work", f"steady-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"saved {os.path.relpath(out, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
