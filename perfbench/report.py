#!/usr/bin/env python3
"""Summarise traced runs and the tracing overhead.

    python3 perfbench/report.py [--out .bench_out]

Reads the records ``perfbench/run.py`` leaves in ``.bench_out/``.  For every
traced run (``--trace 1``) it prints:

* the per-layer metrics (medians per trigger, per registry entry and in
  total, as the run reported them);
* for ``query_mix``, build / plan / exec / build jobs per entry;
* span self time per span name: the span's duration minus the part of it
  its child spans cover, median over spans;
* how the layers account for the end-to-end numbers of the untraced run of
  the same workload and seed: on ``tribute_live`` median trigger time plus
  detection delay against the p50 freshness, on ``query_mix`` build + plan
  + exec against the pass time; within 10 % passes;
* the tracing overhead: each end-to-end metric of the traced run against
  the untraced run of the same workload and seed, when that run exists.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
from collections import defaultdict


def _load(path: str):
    with open(path) as f:
        return json.load(f)


def self_times(spans: list[dict]) -> dict[str, tuple[int, float, float]]:
    """span name -> (count, median duration s, median self time s)."""
    covered = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    by_name = defaultdict(list)
    for s in spans:
        if s["end"] is None:
            continue
        dur = s["end"] - s["start"]
        by_name[s["name"]].append((dur, max(0.0, dur - covered.get(s["id"], 0.0))))
    return {name: (len(v), statistics.median(d for d, _ in v), statistics.median(x for _, x in v))
            for name, v in sorted(by_name.items())}


def _pct(a: float, b: float) -> str:
    return f"{100.0 * (a - b) / b:+.1f}%" if b else "n/a"


def _account(what: str, acc: float, against: str, untraced: float | None,
             traced: float) -> None:
    """Print how ``acc`` (a sum of traced layers) compares with the untraced
    end-to-end number, and with the traced one for reference."""
    line = f"  {what} = {acc:.4f} s; traced {against} {traced:.4f} s ({_pct(acc, traced)})"
    if untraced is None:
        print(line + "; no untraced run to account for")
        return
    verdict = "ok" if abs(acc - untraced) <= 0.1 * untraced else "OFF by more than 10%"
    print(line + f"; untraced {against} {untraced:.4f} s ({_pct(acc, untraced)}): {verdict}")


def report(out_dir: str) -> None:
    for path in sorted(glob.glob(os.path.join(out_dir, "*-trace1.json"))):
        rec = _load(path)
        w, seed = rec["workload"], rec["seed"]
        print(f"== {w} seed {seed} (traced)")
        layers = rec.get("layers", {})
        for name in sorted(layers):
            print(f"  {name:32s} {layers[name]:14.4f}")
        for entry, vals in rec.get("entries", {}).items():
            print(f"  entry {entry:34s} " + " ".join(f"{k}={v:.3f}" for k, v in vals.items()))
        spans_path = os.path.join(out_dir, f"{w}-seed{seed}-spans.json")
        if os.path.exists(spans_path):
            print("  spans: name, count, median s, median self s")
            for name, (n, dur, self_s) in self_times(_load(spans_path)).items():
                print(f"    {name:30s} {n:6d} {dur:10.4f} {self_s:10.4f}")
        e2e = rec["metrics"]
        untraced_path = path.replace("-trace1.json", "-trace0.json")
        untraced = _load(untraced_path)["metrics"] if os.path.exists(untraced_path) else None
        if w == "tribute_live":
            acc = (layers["streaming.trigger_ms"] + layers["sources.detect_ms"]) / 1000.0
            _account("trigger + detect", acc, "freshness p50",
                     untraced["latency_p50_s"] if untraced else None, e2e["latency_p50_s"])
        if w == "query_mix":
            acc = layers["plans.build_s"] + layers["plans.plan_s"] + layers["plans.exec_s"]
            _account("build + plan + exec", acc, "pass",
                     _load(untraced_path)["extra"]["pass_s"] if untraced else None,
                     layers["plans.pass_s"])
        if untraced:
            print("  tracing overhead (traced vs untraced, same seed):")
            for name, value in e2e.items():
                print(f"    {name:20s} {value:14.4f} vs {untraced[name]:14.4f}"
                      f"  {_pct(value, untraced[name])}")
        else:
            print(f"  no untraced run of {w} seed {seed}: overhead not reported")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default=".bench_out")
    report(ap.parse_args().out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
