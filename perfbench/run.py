#!/usr/bin/env python3
"""Benchmark of the ingest lifecycle and the query registry.

Usage, from the repository root::

    python3 perfbench/run.py --workload ingest_load|ingest_stream|query_mix \\
        --seed N --seconds S --trace 0|1

One process, one SparkSession on ``local[<cores>]`` with shuffle partitions
= cores. Every file the run writes lives under ``.bench_work/`` in the
repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries the details (percentile and sample count of each timing,
failed keys, cold set-up time). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SETUP_ROUNDS = 5
WORKLOADS = ("ingest_load", "ingest_stream", "query_mix")

#: end-to-end metrics: every workload reports every one (README.md lists
#: what each means per workload)
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "rows_per_s": "rows/s",
             "peak_rss_mb": "MB"}
#: fixed percentile of ``op_tail_s`` (fixed so commits stay comparable)
TAIL_PCT = 75
#: per-layer metrics: every traced run reports every one (0 where the
#: workload does not reach the layer)
PER_LAYER = [
    "session.get_session_s", "session.warmup_s",
    "sources.load_s", "sources.load_jobs", "sources.input_bytes", "sources.scan_passes",
    "sources.core_util",
    "operators.flatten_s", "operators.fanout",
    "metrics.rows_error", "metrics.extra_jobs",
    "sinks.publish_s", "sinks.publish_jobs", "sinks.bytes_written", "sinks.export_csv_s",
    "sinks.export_json_s", "sinks.export_json_driver_rows", "sinks.archive_s",
    "pipeline.self_s", "pipeline.jobs_per_file",
    "streaming.batches", "streaming.trigger_p50_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.latest_offset_ms", "streaming.query_planning_ms",
    "streaming.publish_clean_s", "streaming.publish_quarantine_s", "streaming.publish_jobs",
    "streaming.readback_s",
    "plans.build_s", "plans.build_jobs", "plans.exec_s", "plans.exec_jobs",
    "ext.build_s", "ext.build_jobs", "ext.exec_s", "ext.exec_jobs",
    "exec.stages", "exec.tasks", "exec.executor_run_s", "exec.executor_cpu_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.shuffle_records",
    "exec.shuffle_fetch_wait_s", "exec.spill_bytes", "exec.failed_tasks",
    "trace.overhead_s",
]


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def session_config(cores: int):
    from data_ingestor_spark.session import EngineConfig

    tmp = os.path.join(WORK, "tmp")
    return EngineConfig(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_spark_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": (
                # a fixed, pre-touched heap: G1 otherwise sizes the heap
                # differently in every JVM, which moves both the GC share
                # of each operation and the resident set from run to run;
                # C1 only: C2 compiles from each JVM's own profile, which
                # shifted a run's median by up to 70% (README.md)
                "-Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={WORK} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def setup(cores: int):
    """Build the session ``SETUP_ROUNDS`` times (stopping it in between) and
    time ``get_session`` and a JVM warm-up query in each round. The first
    round also launches the JVM."""
    from data_ingestor_spark.session import get_session

    rounds, spark = [], None
    for _ in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_session(session_config(cores))
        t1 = time.perf_counter()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        rounds.append((t1 - t0, time.perf_counter() - t1))
        spark.sparkContext.setLogLevel("ERROR")
    return spark, rounds


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone
            proc.kill()
            proc.wait()


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return _hwm_mb("self") + (_hwm_mb(proc.pid) if proc is not None else 0.0)


def nearest_rank(values: list[float], pct: float) -> float:
    ordered = sorted(values)
    return ordered[max(0, math.ceil(pct / 100.0 * len(ordered)) - 1)]


def end_to_end(result: dict) -> tuple[dict, dict]:
    """End-to-end metrics over the successful operations."""
    ok = [s for s in result["samples"] if s["ok"] and s["s"] is not None]
    times = [s["s"] for s in ok]
    if not times:
        return {}, {}
    tail = nearest_rank(times, TAIL_PCT)
    m = {
        "op_p50_s": statistics.median(times),
        "op_tail_s": tail,
        "rows_per_s": sum(s["rows"] for s in ok) / sum(times),
    }
    detail = {"op_tail_s": {"pct": TAIL_PCT, "n": len(times),
                            "beyond": sum(t > tail for t in times)},
              "op_s": [round(t, 4) for t in times]}
    return m, detail


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "data_ingestor_spark")):
        print(f"no data_ingestor_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores = _cores()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path[:0] = [ROOT, HERE]

    import tracing as tr
    import workloads as wl

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    spark, rounds = setup(cores)
    saved = []
    try:
        ctx = wl.Ctx(spark, args.seed, args.seconds, bool(args.trace), run_dir, cores)
        if args.trace:
            saved = tr.install(ctx.tracer)
        result = getattr(wl, args.workload)(ctx)
        rss = peak_rss_mb()
    finally:
        tr.uninstall(saved)
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = result["samples"]
    attempted = len(samples)
    failed = sum(not s["ok"] for s in samples)
    setup_s = statistics.median(a + b for a, b in rounds)
    e2e, detail = end_to_end(result)
    detail.update({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "failed_frac": failed / attempted if attempted else 1.0,
        "setup_rounds_s": [round(a + b, 4) for a, b in rounds],
        "errors": sorted({s["err"] for s in samples if s.get("err")})[:5],
    })
    for key in ("passes", "wrong", "edge_cache_entries"):
        if key in result:
            detail[key] = result[key]
    if args.trace:
        layers = wl.layers_of(result) or {}
        # traced op wall vs the sum of span self times (ingest workloads)
        detail["accounting"] = {k: layers.pop(k) for k in ("wall_s", "accounted_s")
                                if k in layers}
        layers["session.get_session_s"] = statistics.median(a for a, _ in rounds)
        layers["session.warmup_s"] = statistics.median(b for _, b in rounds)
        metrics = {k: {"value": layers.get(k, 0), "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        e2e.update(setup_s=setup_s, peak_rss_mb=rss)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items() if k in e2e}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("scan_passes", "core_util", "fanout")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
