"""How a timing tool builds, warms and times a Spark session, and
counts the Spark jobs a call launches.

``ab_bench``, ``opt_profile``, ``scaling_probe`` and ``plan_audit`` all
run under the session ``bench.py`` builds: local[$SPARK_GRAFT_CPUS or
32], one shuffle partition per core, AQE with partition coalescing,
UTC, UI off. ``bench.py`` keeps its own copy of the builder because its
output is a fixed contract; ``tests/test_tools.py`` fails if the two
copies drift apart.

Only the stdlib and pyspark are imported here: ``ab_bench``'s worker
puts an older source tree on ``sys.path`` before it imports the package.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid

from pyspark.sql import SparkSession


def bench_session(app: str) -> SparkSession:
    """The session ``bench.py`` builds, named ``app``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spark_jobs(spark: SparkSession, fn, *args, **kwargs):
    """Run ``fn(*args, **kwargs)`` under a fresh job group and return
    ``(result, jobs)``: the number of Spark jobs launched in that group.

    Jobs are selected by group id, never by position in the status
    store's bounded job list; the listener bus is drained first so every
    finished job is registered."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def warm(spark: SparkSession, sf_dir: str) -> None:
    """Pay JIT, codegen and parquet-reader start-up before the first
    timed key, as ``bench.py`` does (region is the 5-row table)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()


def cpu_cal() -> float:
    """Seconds for a fixed single-thread md5 loop: this boot's per-core
    speed, recorded so timings from different boots can be normalized."""
    t0 = time.perf_counter()
    h = b"x" * 65536
    for _ in range(2000):
        h = hashlib.md5(h).digest() + h[: 65536 - 16]
    return round(time.perf_counter() - t0, 4)


def time_key(spark: SparkSession, fn, sf_dir: str, reps: int = 2) -> tuple[list, list]:
    """Build ``fn(spark, sf_dir)`` and write it to a noop sink ``reps``
    times. Returns the build seconds and the build-plus-write seconds of
    each rep; the min of the second list is ``bench.py``'s figure."""
    builds, walls = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        builds.append(round(time.perf_counter() - t0, 3))
        df.write.format("noop").mode("overwrite").save()
        walls.append(round(time.perf_counter() - t0, 3))
    return builds, walls
