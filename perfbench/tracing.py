"""Spans and counters for the traced run.

The traced run (``--trace 1``) records, from the benchmark's own files only:

* a span around each call into a layer's public function (the wrappers
  ``Tracer.wrap`` installs on ``DualSink``/``ParquetLatestSink``/
  ``JsonArchiveSink`` and the plan phases ``query_mix`` times itself);
* one span per trigger, from a ``StreamingQueryListener`` progress event
  (start = the trigger's ``timestamp``, end = start + ``triggerExecution``),
  with the trigger's ``durationMs`` phases as child spans;
* the optimization and planning phases of each ``noop`` write, from the
  write's own ``QueryPlanningTracker`` through a ``QueryExecutionListener``;
* job counts from ``SparkContext.statusTracker()``.

Each span has a name, start, end (epoch seconds), the id of the span that
caused it and a request id (batch id or registry entry name).  Spans stay
in memory and are written once, when the run ends.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# listener durationMs key -> per-layer metric name
PHASES = {
    "latestOffset": "sources.latest_offset_ms",
    "getBatch": "sources.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "addBatch": "sinks.add_batch_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "triggerExecution": "streaming.trigger_ms",
}


class Tracer:
    """In-memory span store; thread-safe, one parent stack per thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name, start, end, request=None, parent=None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "request": request, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, request=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None and stack:
            request = self.spans[parent]["request"]
        sid = self.add(name, time.time(), None, request, parent)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def wrap(self, cls, method: str, name: str, request_arg: int | None = None):
        """Replace ``cls.method`` with a span-recording wrapper; returns a
        function that restores the original."""
        original = getattr(cls, method)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            request = None
            if request_arg is not None and len(args) > request_arg:
                request = args[request_arg]
            with self.span(name, request):
                return original(*args, **kwargs)

        setattr(cls, method, traced)
        return lambda: setattr(cls, method, original)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        """Durations (s) of finished spans called ``name`` starting after
        ``since``."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None and s["start"] >= since]


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event and turns each into a trigger span, with
    its ``durationMs`` phases as children."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self.tracer = tracer
        self.events: list[dict] = []
        self.started: list[str] = []  # run ids, in start order
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "runId": str(p.runId),
            "batchId": p.batchId,
            "start": _epoch(p.timestamp),
            "durationMs": dict(p.durationMs),
            "numInputRows": p.numInputRows,
            "received": time.time(),
        }
        trig = rec["durationMs"].get("triggerExecution", 0) / 1000.0
        sid = self.tracer.add("streaming.trigger", rec["start"], rec["start"] + trig,
                              request=p.batchId, run_id=rec["runId"], rows=p.numInputRows)
        for phase, ms in rec["durationMs"].items():
            if phase != "triggerExecution":
                self.tracer.add(f"phase.{phase}", rec["start"], rec["start"] + ms / 1000.0,
                                request=p.batchId, parent=sid, ms=ms)
        with self._cv:
            self.events.append(rec)
            self._cv.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, run_id: str, batch_id: int, timeout: float) -> bool:
        """Block until the progress event of ``batch_id`` of run ``run_id``
        has arrived (events are delivered asynchronously)."""
        def seen():
            return any(e["runId"] == run_id and e["batchId"] >= batch_id for e in self.events)
        with self._cv:
            return self._cv.wait_for(seen, timeout)

    def phase_medians(self, run_id: str, batches: set[int]) -> dict[str, float]:
        """Median per trigger of each listener phase over ``batches``."""
        evs = [e for e in self.events if e["runId"] == run_id and e["batchId"] in batches]
        return {metric: median([e["durationMs"].get(phase, 0) for e in evs])
                for phase, metric in PHASES.items()}


class PlanListener:
    """A JVM ``QueryExecutionListener`` (through the py4j callback server)
    that keeps the optimization and planning phases of every ``overwrite``
    command, which is what ``df.write.format("noop").mode("overwrite")``
    runs.  The phases are the write's own, so nothing is planned twice.
    Events arrive asynchronously; ``wait_for`` blocks until the n-th one."""

    PHASES = ("optimization", "planning")

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.writes: list[dict[str, tuple[float, float]]] = []
        self._cv = threading.Condition()
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def unregister(self) -> None:
        self._manager.unregister(self)

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        if func_name != "overwrite":
            return
        phases = qe.tracker().phases()
        rec = {}
        for phase in self.PHASES:
            found = phases.get(phase)
            if found.isDefined():
                summary = found.get()
                rec[phase] = (summary.startTimeMs() / 1000.0, summary.endTimeMs() / 1000.0)
        with self._cv:
            self.writes.append(rec)
            self._cv.notify_all()

    def onFailure(self, func_name, qe, exception) -> None:
        pass

    def wait_for(self, n: int, timeout: float) -> bool:
        """Block until ``n`` writes have been reported."""
        with self._cv:
            return self._cv.wait_for(lambda: len(self.writes) >= n, timeout)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    values = sorted(values)
    if not values:
        return 0.0
    pos = (len(values) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (pos - lo)


