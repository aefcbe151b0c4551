"""The ``tribute_live`` workload: open-loop file arrivals into the tribute stream.

It feeds generated event files into ``streaming.start_tribute_stream`` and
reads its end-to-end numbers from outside the program: due times from the
generator's wall clock, batch-to-file mapping from the checkpoint's source
log (``checkpoint/sources/0/N`` and the ``N.compact`` files that hold every
earlier entry), and each batch's start and commit times from the mtimes of
``checkpoint/offsets/N`` and ``checkpoint/commits/N``.

Set-up is a few fresh queries, each started on its own paths and fed a few
files closed-loop (write, wait for the commit); the last one becomes the
timed query, so every warm-up trigger lands in set-up and none in a timed
sample.
"""

from __future__ import annotations

import glob
import json
import os
import time

import pyarrow as pa
import pyarrow.json as pajson
import pyarrow.parquet as pq

from hunger_games_glue_streaming_etl_spark.operators.tribute import tribute_pipeline
from hunger_games_glue_streaming_etl_spark.schemas import GAME_CONFIG_SCHEMA, TRIBUTE_DIM_SCHEMA
from hunger_games_glue_streaming_etl_spark.sinks import DualSink, JsonArchiveSink, ParquetLatestSink
from hunger_games_glue_streaming_etl_spark.streaming import TRIBUTE_STREAM_SCHEMA, start_tribute_stream

import inputs
from tracing import median, quantile

COMMIT_TIMEOUT_S = 120.0

# tribute_live: open loop, one file per interval.  A warm trigger takes
# about 1.1 s on a 4-core host, so 1.6 s keeps the offered load near two
# thirds of capacity and no backlog builds.
LIVE_TRIBUTES = 16
LIVE_EVENTS_PER_FILE = 200
LIVE_INTERVAL_S = 1.6
# set-up queries, each fed these files closed-loop; the last one is timed.
# Triggers keep getting faster for about 15 triggers of a fresh JVM; with
# fewer warm-up files the timed freshness drifted within a run.
LIVE_SETUP = ((200, 200), (200,) * 12)


class TributeQuery:
    """One fresh tribute query on its own events/sink/checkpoint paths."""

    def __init__(self, ctx, name: str, n_tributes: int, dims) -> None:
        root = os.path.join(ctx.work, name)
        self.events_dir = os.path.join(root, "events")
        self.latest_path = os.path.join(root, "latest")
        self.archive_path = os.path.join(root, "archive")
        self.ckpt = os.path.join(root, "checkpoint")
        self.writer = inputs.EventWriter(self.events_dir, n_tributes, ctx.seed)
        self.query, self.sink = start_tribute_stream(
            ctx.spark, self.events_dir, dims[0], dims[1],
            self.latest_path, self.archive_path, self.ckpt,
        )
        self.run_id = str(self.query.runId)

    def commit_path(self, batch: int) -> str:
        return os.path.join(self.ckpt, "commits", str(batch))

    def busy_s(self, batch: int) -> float:
        """From the batch's offset-log write to its commit: the time the
        stream spent on the batch after it found the batch's files."""
        offsets = os.stat(os.path.join(self.ckpt, "offsets", str(batch))).st_mtime
        return os.stat(self.commit_path(batch)).st_mtime - offsets

    def wait_commit(self, batch: int, timeout: float = COMMIT_TIMEOUT_S) -> float:
        """Block until ``batch`` is committed; return its commit time."""
        deadline = time.time() + timeout
        path = self.commit_path(batch)
        while not os.path.exists(path):
            if self.query.exception() is not None:
                raise RuntimeError(f"query failed: {self.query.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"batch {batch} not committed within {timeout} s")
            time.sleep(0.005)
        return os.stat(path).st_mtime

    def committed(self) -> list[int]:
        return sorted(int(n) for n in os.listdir(os.path.join(self.ckpt, "commits"))
                      if n.isdigit())

    def batch_files(self) -> dict[int, list[str]]:
        """batch id -> names of the files it read, from the source log."""
        out: dict[int, list[str]] = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            name = os.path.basename(path)
            if not (name.isdigit() or name.endswith(".compact")):
                continue
            with open(path) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out.setdefault(e["batchId"], [])
                        base = os.path.basename(e["path"])
                        if base not in out[e["batchId"]]:
                            out[e["batchId"]].append(base)
        return out

    def feed_closed_loop(self, sizes) -> None:
        for i, n_events in enumerate(sizes):
            self.writer.write(n_events)
            self.wait_commit(i)

    def stop(self) -> None:
        self.query.stop()


def _dims(ctx, n_tributes: int):
    spark = ctx.spark
    dim = spark.createDataFrame(inputs.tribute_dim_rows(n_tributes, ctx.seed), TRIBUTE_DIM_SCHEMA)
    game = spark.createDataFrame(inputs.game_config_rows(), GAME_CONFIG_SCHEMA)
    return dim, game


def _set_up(ctx, prefix: str, n_tributes: int, dims, plan) -> tuple[TributeQuery, float]:
    """Run one fresh query per entry of ``plan``, each fed its file sizes
    closed-loop; return the last (still running) query and the time all the
    set-ups took together."""
    t = time.time()
    for rep, sizes in enumerate(plan):
        q = TributeQuery(ctx, f"{prefix}{rep}", n_tributes, dims)
        q.feed_closed_loop(sizes)
        if rep < len(plan) - 1:
            q.stop()
    setup = time.time() - t
    if ctx.listener is not None:
        # progress events arrive asynchronously: the warm-up's last one must
        # be in before the timed phase so no batch is attributed to it
        ctx.listener.wait_for(q.run_id, len(q.committed()) - 1, COMMIT_TIMEOUT_S)
    return q, setup


# ---------------------------------------------------------------------------
# output checks (read the sink files directly, not through Spark)


def check_archive(q: TributeQuery, files: list[str]) -> set[str]:
    """Names of ``files`` whose events are not in the archive exactly once."""
    counts: dict[str, int] = {}
    for part in glob.glob(os.path.join(q.archive_path, "epoch=*", "part-*")):
        if os.path.getsize(part) == 0:
            continue
        ids = pajson.read_json(part).column("streamingeventid").to_pylist()
        for eid in ids:
            counts[eid] = counts.get(eid, 0) + 1
    bad = {f for f in files if any(counts.get(e, 0) != 1 for e in q.writer.files[f])}
    expected = sum(len(v) for v in q.writer.files.values())
    if sum(counts.values()) != expected:
        # extra rows that no generated file accounts for
        bad |= {"<archive>"}
    return bad


def check_latest(q: TributeQuery) -> list[str]:
    """Keys whose latest row differs from the generator's own
    last-writer-wins record (seq, heart rate, coordinates, DEAD iff the
    heart rate is 0), plus keys missing from or extra in the view."""
    cols = ["tributeId", "seq", "heartRate", "xCoordinate", "yCoordinate", "status"]
    parts = glob.glob(os.path.join(q.latest_path, "*", "*.parquet"))
    table = pa.concat_tables([pq.read_table(p, columns=cols) for p in parts])
    expected = q.writer.latest
    seen, bad = set(), []
    for row in table.to_pylist():
        key = row["tributeId"]
        exp = expected.get(key)
        seen.add(key)
        if (exp is None or row["seq"] != exp.seq
                or float(row["heartRate"]) != exp.heartrate
                or float(row["xCoordinate"]) != exp.x
                or float(row["yCoordinate"]) != exp.y
                or (row["status"] == "DEAD") != (exp.heartrate == 0.0)):
            bad.append(key)
    bad.extend(k for k in expected if k not in seen)
    return bad


def _latest_footprint(path: str) -> tuple[int, int]:
    files = [p for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)]
    return len(files), sum(os.path.getsize(p) for p in files)


def _operator_batch_ms(ctx, event_file: str, dims, reps: int = 3) -> float:
    """``tribute_pipeline`` on one event file as a static DataFrame, written
    to ``noop``: the operators layer without the stream or the sinks."""
    samples = []
    for _ in range(reps):
        t = time.perf_counter()
        events = ctx.spark.read.schema(TRIBUTE_STREAM_SCHEMA).json(event_file)
        tribute_pipeline(events, dims[0], dims[1]).write.format("noop").mode("overwrite").save()
        samples.append((time.perf_counter() - t) * 1000)
    return median(samples)


def _install_sink_spans(ctx) -> None:
    t = ctx.tracer
    ctx.restore += [
        t.wrap(DualSink, "__call__", "sinks.dual_sink", request_arg=2),
        t.wrap(ParquetLatestSink, "upsert", "sinks.upsert"),
        t.wrap(JsonArchiveSink, "append", "sinks.archive"),
    ]


def _stream_layers(ctx, q: TributeQuery, batches: set[int], jobs_before: int) -> dict:
    """Per-layer numbers of the timed batches of ``q`` (traced run only)."""
    spark = ctx.spark
    layer = ctx.listener.phase_medians(q.run_id, batches)
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(q.run_id))
    layer["streaming.jobs_per_trigger"] = (jobs - jobs_before) / max(1, len(batches))
    since = min(e["start"] for e in ctx.listener.events
                if e["runId"] == q.run_id and e["batchId"] in batches)
    layer["sinks.upsert_ms"] = 1000 * median(ctx.tracer.durations("sinks.upsert", since))
    layer["sinks.archive_ms"] = 1000 * median(ctx.tracer.durations("sinks.archive", since))
    n_files, n_bytes = _latest_footprint(q.latest_path)
    layer["sinks.latest_files"] = n_files
    layer["sinks.latest_bytes"] = n_bytes
    return layer


# ---------------------------------------------------------------------------
# workloads


def tribute_live(ctx) -> dict:
    """Open loop: one 200-event file over 16 tributes every LIVE_INTERVAL_S.
    Each file's freshness runs from when it was due to the commit of the
    batch that consumed it."""
    dims = _dims(ctx, LIVE_TRIBUTES)
    if ctx.tracer is not None:
        _install_sink_spans(ctx)
    q, setup = _set_up(ctx, "live", LIVE_TRIBUTES, dims, LIVE_SETUP)
    warm_batches = len(q.committed())
    jobs_before = (len(ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(q.run_id))
                   if ctx.tracer is not None else 0)

    due: dict[str, float] = {}
    late = []
    t0 = time.time() + 0.05
    k = 0
    while t0 + k * LIVE_INTERVAL_S < t0 + ctx.seconds:
        d = t0 + k * LIVE_INTERVAL_S
        time.sleep(max(0.0, d - time.time()))
        name = os.path.basename(q.writer.write(LIVE_EVENTS_PER_FILE))
        late.append(time.time() - d)
        due[name] = d
        k += 1
    q.query.processAllAvailable()

    mapping = q.batch_files()
    commit_of: dict[str, float] = {}
    batches = set()
    for b, names in mapping.items():
        if b >= warm_batches and os.path.exists(q.commit_path(b)):
            batches.add(b)
            for n in names:
                commit_of[n] = os.stat(q.commit_path(b)).st_mtime
    fresh = [commit_of[n] - d for n, d in due.items() if n in commit_of]
    failed_files = {n for n in due if n not in commit_of}
    q.stop()

    failed_files |= check_archive(q, list(q.writer.files))
    bad_keys = check_latest(q)
    busy = sum(q.busy_s(b) for b in batches)
    n_events = sum(len(q.writer.files[n]) for b in batches for n in mapping[b] if n in due)
    result = {
        "attempted": len(due),
        "failed": len(failed_files & set(due)),
        "correct": not failed_files and not bad_keys,
        "problems": sorted(failed_files)[:5] + bad_keys[:5],
        "setup_s": setup,
        "metrics": {
            "latency_p50_s": median(fresh),
            # capacity: events per second the stream was busy with them
            "throughput_per_s": n_events / busy if busy > 0 else 0.0,
        },
        "extra": {"generator_late_max_s": max(late), "files": len(due),
                  "interval_s": LIVE_INTERVAL_S, "freshness_p90_s": quantile(fresh, 0.9),
                  "freshness_s": fresh, "busy_s": busy,
                  "offered_per_s": LIVE_EVENTS_PER_FILE / LIVE_INTERVAL_S},
    }
    if ctx.tracer is not None:
        layer = _stream_layers(ctx, q, batches, jobs_before)
        starts = {e["batchId"]: e["start"] for e in ctx.listener.events if e["runId"] == q.run_id}
        detect = [starts[b] - due[n] for b, names in mapping.items() if b in batches
                  for n in names if n in due and b in starts]
        layer["sources.detect_ms"] = 1000 * median(detect)
        layer["operators.tribute_batch_ms"] = _operator_batch_ms(
            ctx, os.path.join(q.events_dir, next(iter(due))), dims)
        result["layers"] = layer
    return result

