#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [workload ...]

Runs ``perfbench/run.py`` once per seed for each workload (all workloads of
BENCHMARK.json by default), one run at a time, and prints for every
end-to-end metric its median and the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the median,
next to the metric's bound.  A spread at or above a third of the bound is
flagged; ``setup_s`` is shown but only its median matters.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    flagged = False
    for w in workloads:
        values: dict[str, list[float]] = {n: [] for n in bounds}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t = time.time()
            proc = subprocess.run(
                [*spec["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, check=True)
            walls.append(time.time() - t)
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}")
                flagged = True
            for n in bounds:
                values[n].append(res["metrics"][n]["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s wall  "
                  + " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items()), flush=True)
        print(f"== {w}: {len(walls)} runs, median wall {statistics.median(walls):.1f} s")
        for n, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            share = (q3 - q1) / med
            mark = ""
            if n != "setup_s" and share >= bounds[n] / 3:
                mark = "  <-- spread >= bound/3"
                flagged = True
            print(f"  {n:18s} median {med:12.4f}  IQR/median {share:6.3f}  bound {bounds[n]}{mark}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
