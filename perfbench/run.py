#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads (rationale in perfbench/README.md):

* ``tribute_live``  open-loop file arrivals into the tribute stream;
* ``query_mix``     warm passes over oracled registry entries.

Each run starts its own SparkSession at ``local[<cores>]``, makes its inputs
from ``--seed`` under ``.bench_work/`` (deleted at exit), measures for
``--seconds`` seconds after set-up, checks the program's outputs and prints
one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` ones of BENCHMARK.json;
with ``--trace 1`` the ``per_layer`` ones.  Every run also writes its full
record (set-up time, extra figures, and for a traced run its spans) to
``.bench_out/<workload>-seed<N>-trace<T>.json``; ``perfbench/report.py``
summarises those files and reports the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

START = time.time()
ROOT = os.getcwd()
DRIVER_MEMORY = "3g"
WORKLOADS = ("tribute_live", "query_mix")


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object = None
    listener: object = None
    restore: list = field(default_factory=list)


def _metric_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _prepare_env(work: str) -> None:
    """Keep every file Spark or Python writes inside ``work`` and let the
    Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM (VmHWM)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: str) -> dict:
    from hunger_games_glue_streaming_etl_spark.session import get_spark

    import mix
    import tracing
    import tribute

    workload = {"tribute_live": tribute.tribute_live,
                "query_mix": mix.query_mix}[args.workload]
    t = time.time()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    session_s = time.time() - t
    try:
        ctx = Context(spark, work, args.seed, float(args.seconds))
        if args.trace:
            ctx.tracer = tracing.Tracer()
            ctx.listener = tracing.ProgressListener(ctx.tracer)
            spark.streams.addListener(ctx.listener)
        try:
            result = workload(ctx)
        finally:
            for restore in ctx.restore:
                restore()
        peak_rss_mb = _peak_rss_mb(spark)
    finally:
        for q in spark.streams.active:
            q.stop()
        _shutdown(spark)
    result["metrics"]["setup_s"] = session_s + result["setup_s"]
    result["session_s"] = session_s
    result["peak_rss_mb"] = peak_rss_mb
    if args.trace:
        result.setdefault("layers", {}).update({"session.start_s": session_s,
                                                "session.peak_rss_mb": peak_rss_mb})
        result["spans"] = ctx.tracer.spans
    return result


def main(argv=None) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing is randomised per process; pin it so set and dict
        # iteration order, and the plans built from them, repeat across runs
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    e2e_units, layer_units = _metric_units()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    if args.trace:
        values = result["layers"]
        # a layer the workload never calls is reported as measured: 0
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
                   for n, u in layer_units.items()}
    else:
        values = {**result["metrics"]}
        metrics = {n: {"value": float(values[n]), "unit": u} for n, u in e2e_units.items()}

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = {k: v for k, v in result.items() if k != "spans"}
    record.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, wall_s=time.time() - START)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump(result["spans"], f)
    for problem in result.get("problems", []):
        print(f"check failed: {problem}", file=sys.stderr)
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
