"""Spans, Spark-counter attribution and streaming progress for traced runs.

A traced run wraps the public functions the pipeline and the query
registry call (:func:`install`). Each wrapped call records a span (name,
start, end, parent, operation id) and runs under its own Spark job group,
so the Spark jobs it launches are attributed to it by group id — never by
position in the status store's bounded job list (``spark.ui.retainedJobs``).
Spans stay in memory; the caller summarises them once at the end.

The counters come from two Spark surfaces:

- ``SparkContext.statusTracker().getJobIdsForGroup`` (public) for the job
  ids of a group;
- ``SparkContext.statusStore()`` (private to Spark, reached through py4j)
  for per-job stage ids and per-stage task metrics, and
  ``LiveListenerBus.waitUntilEmpty`` so a job's metrics are final before
  they are read. ``test_statusstore.py`` pins this surface.
"""

from __future__ import annotations

import functools
import threading
import time

#: StageData getters summed per span, with the name they are reported under
#: and the factor that converts them to the reported unit.
STAGE_FIELDS = {
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadRecords": ("shuffle_records", 1),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "numTasks": ("tasks", 1),
}
_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCounters:
    """Reads job and stage metrics for one job group."""

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        """Block until every posted listener event is processed, so the
        status store holds the final metrics of every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group(self, group_id: str, claimed: set[int]) -> dict:
        """Counters of the jobs in ``group_id``. Stage ids already in
        ``claimed`` (a stage reused by a later job) are not counted twice."""
        out = {name: 0.0 for name, _ in STAGE_FIELDS.values()}
        out.update(jobs=0, stages=0, job_wall_s=0.0, stage_wall_s=0.0, scan_run_s=0.0,
                   scan_wall_s=0.0)
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group_id):
            job = self._store.job(job_id)
            out["jobs"] += 1
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                out["job_wall_s"] += end - start
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in claimed:
                    continue
                claimed.add(sid)
                stage = self._store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for getter, (name, scale) in STAGE_FIELDS.items():
                    out[name] += getattr(stage, getter)() * scale
                s0, s1 = _opt_ms(stage.submissionTime()), _opt_ms(stage.completionTime())
                wall = (s1 - s0) if s0 is not None and s1 is not None else 0.0
                out["stage_wall_s"] += wall
                if stage.inputBytes() > 0:
                    out["scan_run_s"] += stage.executorRunTime() / 1000.0
                    out["scan_wall_s"] += wall
        return out


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span opened on a
    thread with no open span (a ``foreachBatch`` callback) hangs off the
    operation's root span."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._root: dict | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` (pass-through when off)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            rec = {"name": name, "op": self.op_id, "id": len(self.spans),
                   "parent": parent["id"] if parent else None}
            self.spans.append(rec)
        rec["group"] = f"bench-{self.op_id}-{rec['id']}"
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setLocalProperty(_GROUP, rec["group"])
        self.sc.setLocalProperty(_DESC, name)
        if parent is None:
            self._root = rec
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if rec is self._root:
                self._root = None
            self.sc.setLocalProperty(_GROUP, prev[0])
            self.sc.setLocalProperty(_DESC, prev[1])

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        return traced

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id and "end" in s]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def attribute(counters: SparkCounters, spans: list[dict]) -> None:
    """Attach Spark counters to each span of one finished operation
    (innermost span first, so a reused stage counts where it first ran)."""
    counters.drain()
    claimed: set[int] = set()
    for s in sorted(spans, key=lambda s: -s["id"]):
        s["spark"] = counters.group(s["group"], claimed)


class ProgressLedger:
    """``StreamingQueryListener`` that keeps every trigger's
    ``durationMs`` breakdown (not the bounded ``recentProgress`` window)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        ledger = self
        self.events: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ledger.events.append(
                    {"batch": p.batchId, "rows": p.numInputRows, "ms": dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def take(self) -> list[dict]:
        out, self.events = self.events, []
        return out


def install(tracer: Tracer) -> list[tuple]:
    """Wrap the layer entry points the pipeline and streaming job call.

    Returns the ``(owner, attribute, original)`` triples so :func:`uninstall`
    can restore them. Names resolve where the caller looks them up:
    ``pipeline`` binds ``load``/``flatten_nested``/``observed`` at import,
    calls ``sinks.*`` through the module, and ``run_stream_job`` imports
    its streaming helpers from the package at call time.
    """
    from data_ingestor_spark import pipeline, sinks, streaming

    def publish_factory(original):
        def factory(target_dir, *a, **kw):
            fn = original(target_dir, *a, **kw)
            kind = "quarantine" if target_dir.rstrip("/").endswith("quarantine") else "clean"
            return tracer.wrap(f"streaming.publish_{kind}", fn)

        return factory

    def batches_wrapper(original):
        def write(df, checkpoint_dir, batch_fn, *a, **kw):
            return original(df, checkpoint_dir, tracer.wrap("streaming.batch", batch_fn), *a, **kw)

        return tracer.wrap("streaming.write_stream_batches", write)

    plan = [
        (pipeline, "load", "sources.load"),
        (pipeline, "flatten_nested", "operators.flatten"),
        (pipeline, "observed", "metrics.observed"),
        (pipeline, "observed_stream", "metrics.observed_stream"),
        (sinks, "publish_parquet_atomic", "sinks.publish"),
        (sinks, "export_csv", "sinks.export_csv"),
        (sinks, "export_json", "sinks.export_json"),
        (sinks, "archive_input", "sinks.archive"),
        (streaming, "stream_load", "streaming.stream_load"),
    ]
    saved = []
    for owner, attr, name in plan:
        original = getattr(owner, attr)
        saved.append((owner, attr, original))
        setattr(owner, attr, tracer.wrap(name, original))
    for attr, make in (("idempotent_batch_publish", publish_factory),
                       ("write_stream_batches", batches_wrapper)):
        original = getattr(streaming, attr)
        saved.append((streaming, attr, original))
        setattr(streaming, attr, make(original))
    return saved


def uninstall(saved: list[tuple]) -> None:
    for owner, attr, original in reversed(saved):
        setattr(owner, attr, original)
