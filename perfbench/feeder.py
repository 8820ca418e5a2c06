"""The input generator, run as its own process.

``live``: land one NDJSON file every ``--interval`` seconds on a fixed
schedule that does not wait for the program (an open loop), and record
each file's due and actual landing time in a manifest.

``backlog``: land a block of files at once, with modification times one
millisecond apart so that the file source takes them in index order.

Files are published by writing a dot-prefixed temporary name and renaming
it, so a listing never sees a half-written file.

    python3 perfbench/feeder.py live --landing DIR --manifest FILE \
        --seed 1 --workload live_signups --first 1 --files 200 \
        --lines 20 --interval 0.1 --t0 <epoch seconds>
"""

from __future__ import annotations

import argparse
import json
import os
import time

from inputs import landing_file


def _publish(landing: str, index: int, lines: list[str], mtime: float | None = None) -> str:
    final = os.path.join(landing, f"f{index:07d}.ndjson")
    tmp = os.path.join(landing, f".f{index:07d}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, final)
    return final


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["live", "backlog"])
    ap.add_argument("--landing", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--lines", type=int, required=True)
    ap.add_argument("--wave-share", type=float, default=0.0)
    ap.add_argument("--interval", type=float, default=0.1)
    ap.add_argument("--t0", type=float, default=0.0)
    ap.add_argument("--manifest")
    a = ap.parse_args()

    idx = range(a.first, a.first + a.files)
    if a.mode == "backlog":
        base = time.time() - 1.0
        for k, i in enumerate(idx):
            lines = landing_file(a.seed, a.workload, i, a.lines, a.wave_share)
            _publish(a.landing, i, lines, mtime=base + k / 1000.0)
        return

    with open(a.manifest, "a") as man:
        for k, i in enumerate(idx):
            lines = landing_file(a.seed, a.workload, i, a.lines, a.wave_share)
            due = a.t0 + k * a.interval
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            _publish(a.landing, i, lines)
            man.write(json.dumps({"i": i, "due": due, "done": time.time()}) + "\n")
            man.flush()


if __name__ == "__main__":
    main()
