"""The three workloads. Each runs a closed loop (one client: the next
operation starts when the previous one returns) for the run's seconds and
returns its samples, failure count and, in a traced run, per-layer values.

- ``ingest_load``: one operation = ``pipeline.run_load_job`` over one JSON
  document with CSV export, JSON-array export and archiving.
- ``ingest_stream``: one operation = ``pipeline.run_stream_job`` draining a
  watch directory of small XML feeds.
- ``query_mix``: one operation = one key, timed as ``spec.fn`` build plus a
  ``noop`` write; keys run in whole passes, each pass in a seeded order.

In a traced run, operations alternate between untraced and traced; the
per-layer values are medians over the traced ones (per file, per drain or
per pass), and ``trace.overhead_s`` is the traced median minus the
untraced median of the operation's wall time.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from collections import defaultdict

import gen
import querymix
import tracing as tr

LOAD_DOCS, LOAD_RECORDS = 3, 10_000
STREAM_FILES, STREAM_RECORDS = 20, 200
WARMUP_OPS = 2
EXEC_FIELDS = {
    "exec.stages": "stages", "exec.tasks": "tasks", "exec.executor_run_s": "executor_run_s",
    "exec.executor_cpu_s": "executor_cpu_s", "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes", "exec.shuffle_records": "shuffle_records",
    "exec.shuffle_fetch_wait_s": "shuffle_fetch_wait_s", "exec.spill_bytes": "spill_bytes",
    "exec.failed_tasks": "failed_tasks",
}


class Ctx:
    def __init__(self, spark, seed: int, seconds: float, trace: bool, work: str, cores: int):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.trace, self.work, self.cores = trace, work, cores
        self.tracer = tr.Tracer(spark.sparkContext)
        self.counters = tr.SparkCounters(spark.sparkContext) if trace else None
        self.ledger = None

    def traced_op(self, i: int) -> bool:
        return self.trace and i % 2 == 1


class Spans:
    """Queries over the finished spans of one traced operation."""

    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.selfs = tr.self_times(spans)
        self.by = defaultdict(list)
        for s in spans:
            self.by[s["name"]].append(s)

    def dur(self, *names: str) -> float:
        return sum(s["end"] - s["start"] for n in names for s in self.by[n])

    def jobs(self, *names: str) -> int:
        return sum(s["spark"]["jobs"] for n in names for s in self.by[n])

    def total(self, field: str, names=None) -> float:
        pick = self.spans if names is None else [s for n in names for s in self.by[n]]
        return sum(s["spark"][field] for s in pick)

    def root_self(self) -> float:
        return sum(self.selfs[s["id"]] for s in self.spans if s["parent"] is None)

    def common(self, cores: int, input_file_bytes: int) -> dict:
        scan_wall = self.total("scan_wall_s")
        out = {k: self.total(f) for k, f in EXEC_FIELDS.items()}
        out.update({
            "sources.input_bytes": self.total("input_bytes"),
            "sources.scan_passes": self.total("input_bytes") / input_file_bytes,
            "sources.core_util": self.total("scan_run_s") / (scan_wall * cores) if scan_wall else 0.0,
            "metrics.extra_jobs": self.jobs("metrics.observed", "metrics.observed_stream"),
            # every span's self time: what the layers account for of the op
            "accounted_s": sum(self.selfs.values()),
        })
        return out


def _run_op(ctx: Ctx, i: int, name: str, fn, *args, **kwargs):
    """Run one operation, traced or not; returns (result, seconds, Spans|None)."""
    traced = ctx.traced_op(i)
    ctx.tracer.enabled = traced
    ctx.tracer.op_id = f"{name}{i}"
    t0 = time.perf_counter()
    result = ctx.tracer.span(name, fn, *args, **kwargs)
    elapsed = time.perf_counter() - t0
    ctx.tracer.enabled = False
    if not traced:
        return result, elapsed, None
    spans = ctx.tracer.op_spans(ctx.tracer.op_id)
    tr.attribute(ctx.counters, spans)
    return result, elapsed, Spans(spans)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(d, f)).num_rows
    return n


def _medians(samples: list[dict]) -> dict:
    return {k: statistics.median(s[k] for s in samples) for k in samples[0]} if samples else {}


def _overhead(untraced: list[float], traced: list[float]) -> float:
    if not untraced or not traced:
        return 0.0
    return statistics.median(traced) - statistics.median(untraced)


# --- ingest_load ---------------------------------------------------------------


def ingest_load(ctx: Ctx) -> dict:
    from data_ingestor_spark.pipeline import run_load_job

    docs = gen.write_load_docs(os.path.join(ctx.work, "pool"), ctx.seed, LOAD_DOCS, LOAD_RECORDS)

    def op(i: int):
        doc = docs[i % len(docs)]
        d = os.path.join(ctx.work, f"load{i}")
        src = os.path.join(d, "in", os.path.basename(doc["path"]))
        os.makedirs(os.path.dirname(src))
        shutil.copy(doc["path"], src)  # re-staged: the load archives its input
        out = {k: os.path.join(d, k) for k in ("published", "export.csv", "export.json", "archive")}
        res, elapsed, spans = _run_op(
            ctx, i, "pipeline.run_load_job", run_load_job, ctx.spark, src, out["published"],
            csv_out=out["export.csv"], json_out=out["export.json"], archive_dir=out["archive"],
        )
        with open(out["export.csv"]) as f:
            csv_rows = sum(1 for _ in f) - 1
        with open(out["export.json"]) as f:
            json_rows = len(json.load(f))
        ok = (
            res.rows_published == doc["rows"] and res.rows_error == 0
            and _parquet_rows(out["published"]) == doc["rows"]
            and csv_rows == doc["rows"] and json_rows == doc["rows"]
            and os.listdir(out["archive"]) == [os.path.basename(src)]
            and not os.path.exists(src)
        )
        layers = None
        if spans is not None:
            layers = spans.common(ctx.cores, os.path.getsize(doc["path"]))
            layers["wall_s"] = elapsed
            layers.update({
                "sources.load_s": spans.dur("sources.load"),
                "sources.load_jobs": spans.jobs("sources.load"),
                "operators.flatten_s": spans.dur("operators.flatten"),
                "operators.fanout": doc["rows"] / doc["records"],
                "metrics.rows_error": res.rows_error,
                "sinks.publish_s": spans.dur("sinks.publish"),
                "sinks.publish_jobs": spans.jobs("sinks.publish"),
                "sinks.bytes_written": spans.total(
                    "output_bytes", ["sinks.publish", "sinks.export_csv", "sinks.export_json"]),
                "sinks.export_csv_s": spans.dur("sinks.export_csv"),
                "sinks.export_json_s": spans.dur("sinks.export_json"),
                "sinks.export_json_driver_rows": json_rows,
                "sinks.archive_s": spans.dur("sinks.archive"),
                "pipeline.self_s": spans.root_self(),
                "pipeline.jobs_per_file": spans.jobs(*spans.by),
            })
        shutil.rmtree(d)
        return {"s": elapsed, "ok": ok, "rows": doc["rows"], "layers": layers}

    return _closed_loop(ctx, op)


# --- ingest_stream --------------------------------------------------------------


def ingest_stream(ctx: Ctx) -> dict:
    from data_ingestor_spark.pipeline import run_stream_job

    feeds = gen.write_stream_feeds(
        os.path.join(ctx.work, "feeds"), ctx.seed, STREAM_FILES, STREAM_RECORDS
    )
    feed_bytes = sum(os.path.getsize(p) for p in feeds["files"])
    names = sorted(os.path.basename(p) for p in feeds["files"])
    if ctx.trace:
        ctx.ledger = tr.ProgressLedger()
        ctx.spark.streams.addListener(ctx.ledger.listener)

    def op(i: int):
        d = os.path.join(ctx.work, f"drain{i}")
        watch, target, archive = (os.path.join(d, k) for k in ("watch", "target", "archive"))
        os.makedirs(watch)
        if ctx.ledger is not None:  # drop progress events of earlier drains
            ctx.counters.drain()
            ctx.ledger.take()
        for p in feeds["files"]:
            shutil.copy(p, watch)
        res, elapsed, spans = _run_op(
            ctx, i, "pipeline.run_stream_job", run_stream_job, ctx.spark, watch, target,
            fmt="xml", archive_dir=archive, timeout_s=120,
        )
        archived = sorted(f for _, _, fs in os.walk(archive) for f in fs)
        left = sorted(os.listdir(watch))
        # cleanSource archives a micro-batch's files when the next one
        # starts, so the last batch's files may still sit in the watch dir
        ok = (
            res.rows_published == feeds["published"]
            and res.rows_quarantined == feeds["quarantined"]
            and not res.files_deadlettered and res.restarts == 0
            and _parquet_rows(os.path.join(target, "data")) == feeds["published"]
            and _parquet_rows(os.path.join(target, "quarantine")) == feeds["quarantined"]
            and len(archived) > 0 and sorted(archived + left) == names
        )
        layers = None
        if spans is not None:
            ctx.counters.drain()
            ledger = ctx.ledger.take()
            clean = feeds["records"] - feeds["quarantined"]

            def per_trigger(key: str) -> float:
                vals = [e["ms"].get(key, 0) for e in ledger]
                return float(statistics.median(vals)) if vals else 0.0

            root = next(s for s in spans.spans if s["parent"] is None)
            layers = spans.common(ctx.cores, feed_bytes)
            layers["wall_s"] = elapsed
            layers.update({
                "operators.fanout": feeds["published"] / clean,
                "metrics.rows_error": res.rows_quarantined,
                "streaming.batches": len(spans.by["streaming.batch"]),
                "streaming.trigger_p50_ms": per_trigger("triggerExecution"),
                "streaming.add_batch_ms": per_trigger("addBatch"),
                "streaming.wal_commit_ms": per_trigger("walCommit"),
                "streaming.latest_offset_ms": per_trigger("latestOffset"),
                "streaming.query_planning_ms": per_trigger("queryPlanning"),
                "streaming.publish_clean_s": spans.dur("streaming.publish_clean"),
                "streaming.publish_quarantine_s": spans.dur("streaming.publish_quarantine"),
                "streaming.publish_jobs": spans.jobs(
                    "streaming.publish_clean", "streaming.publish_quarantine"),
                # the end-of-job parquet read-back runs in the root span's own group
                "streaming.readback_s": root["spark"]["job_wall_s"],
                "pipeline.self_s": spans.root_self(),
                "pipeline.jobs_per_file": spans.jobs(*spans.by) / STREAM_FILES,
            })
        shutil.rmtree(d)
        return {"s": elapsed, "ok": ok, "rows": feeds["published"] + feeds["quarantined"],
                "layers": layers}

    return _closed_loop(ctx, op)


def _closed_loop(ctx: Ctx, op) -> dict:
    for i in range(-2, -2 - 2 * WARMUP_OPS, -2):  # even: never traced
        op(i)  # untimed warm-up: JIT, codegen, file-source caches
    samples = []
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < ctx.seconds or (ctx.trace and i < 2):
        try:
            samples.append(op(i))
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted
            samples.append({"s": None, "ok": False, "rows": 0, "layers": None, "err": repr(exc)})
        i += 1
    return {"samples": samples}


# --- query_mix ------------------------------------------------------------------


def query_mix(ctx: Ctx) -> dict:
    from data_ingestor_spark.ext import graph
    from data_ingestor_spark.plans.queries import REGISTRY

    data = querymix.DATA
    expected = querymix.load_expected()["keys"]
    rng = random.Random(ctx.seed)
    spark = ctx.spark

    # untimed check pass: also the warm-up (codegen, table handles)
    wrong = set()
    for key in rng.sample(querymix.KEYS, len(querymix.KEYS)):
        try:
            rows, digest = querymix.canonical(REGISTRY[key].fn(spark, data).toPandas())
            if (rows, digest) != (expected[key]["rows"], expected[key]["hash"]):
                wrong.add(key)
        except Exception:  # noqa: BLE001 - counted as a wrong key
            wrong.add(key)
    memo_entries = len(graph._EDGE_CACHE)

    def execute(key: str, layer: str) -> None:
        df = ctx.tracer.span(f"{layer}.build", REGISTRY[key].fn, spark, data)
        ctx.tracer.span(f"{layer}.exec", df.write.format("noop").mode("overwrite").save)

    samples, passes = [], []
    t0 = time.perf_counter()
    p = 0
    while time.perf_counter() - t0 < ctx.seconds or (ctx.trace and p < 2):
        traced = ctx.traced_op(p)
        pass_spans, pass_t0 = [], time.perf_counter()
        for key in rng.sample(querymix.KEYS, len(querymix.KEYS)):
            layer = "ext" if key in querymix.EXT else "plans"
            i = len(samples)
            ctx.tracer.enabled = traced
            ctx.tracer.op_id = f"q{i}"
            k0 = time.perf_counter()
            ok = key not in wrong
            try:
                ctx.tracer.span("query", execute, key, layer)
            except Exception:  # noqa: BLE001 - a failed execution is counted
                ok = False
            elapsed = time.perf_counter() - k0
            ctx.tracer.enabled = False
            samples.append({"s": elapsed, "ok": ok, "key": key,
                            "rows": expected[key]["input_rows"]})
            if traced:
                spans = ctx.tracer.op_spans(ctx.tracer.op_id)
                tr.attribute(ctx.counters, spans)
                pass_spans += spans
        passes.append({"s": time.perf_counter() - pass_t0, "traced": traced, "spans": pass_spans})
        p += 1

    layers = None
    if ctx.trace:
        per_pass = []
        for ps in passes:
            if not ps["traced"]:
                continue
            sp = Spans(ps["spans"])
            vals = {k: sp.total(f) for k, f in EXEC_FIELDS.items()}
            for layer in ("plans", "ext"):
                vals[f"{layer}.build_s"] = sp.dur(f"{layer}.build")
                vals[f"{layer}.build_jobs"] = sp.jobs(f"{layer}.build")
                vals[f"{layer}.exec_s"] = sp.dur(f"{layer}.exec")
                vals[f"{layer}.exec_jobs"] = sp.jobs(f"{layer}.exec")
            per_pass.append(vals)
        layers = _medians(per_pass)
        layers["trace.overhead_s"] = _overhead(
            [ps["s"] for ps in passes if not ps["traced"]],
            [ps["s"] for ps in passes if ps["traced"]],
        )
    return {"samples": samples, "passes": [ps["s"] for ps in passes],
            "wrong": sorted(wrong), "edge_cache_entries": memo_entries, "layers": layers}


def layers_of(result: dict) -> dict | None:
    """Per-layer medians of an ingest workload's traced operations."""
    if result.get("layers") is not None:
        return result["layers"]
    traced = [s["layers"] for s in result["samples"] if s.get("layers")]
    if not traced:
        return None
    out = _medians(traced)
    out["trace.overhead_s"] = _overhead(
        [s["s"] for s in result["samples"] if s["s"] is not None and not s.get("layers")],
        [s["s"] for s in result["samples"] if s.get("layers")],
    )
    return out
