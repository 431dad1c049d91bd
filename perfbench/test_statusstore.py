"""Pins the Spark surfaces the benchmark's traced run depends on.

``tracing.SparkCounters`` reads job and stage metrics through
``SparkContext.statusStore()`` and ``LiveListenerBus.waitUntilEmpty``,
which are private to Spark and reached through py4j. If a Spark upgrade
moves them, these tests fail with the missing name instead of the
benchmark silently reporting zeros.

Run: ``python3 -m pytest perfbench/test_statusstore.py -q``
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import tracing  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def _shuffle_job(spark):
    from pyspark.sql import functions as F

    return spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()


def test_private_surface_exists(spark):
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    _shuffle_job(spark)
    jsc.listenerBus().waitUntilEmpty()
    job = store.job(max(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [0]))
    for name in ("stageIds", "submissionTime", "completionTime", "status"):
        assert callable(getattr(job, name)), name
    stage = store.lastStageAttempt(job.stageIds().apply(0))
    for getter in list(tracing.STAGE_FIELDS) + ["status", "submissionTime", "completionTime"]:
        getattr(stage, getter)()


def test_counters_select_jobs_by_group(spark):
    sc = spark.sparkContext
    tracer = tracing.Tracer(sc)
    tracer.enabled, tracer.op_id = True, "t"
    sc.setLocalProperty("spark.jobGroup.id", "outer")
    tracer.span("shuffle", _shuffle_job, spark)
    assert sc.getLocalProperty("spark.jobGroup.id") == "outer"  # restored
    sc.setLocalProperty("spark.jobGroup.id", None)
    _shuffle_job(spark)  # ungrouped: must not be counted
    (span,) = tracer.op_spans("t")
    tracing.attribute(tracing.SparkCounters(sc), [span])
    got = span["spark"]
    assert got["jobs"] >= 1
    assert got["stages"] >= 2 and got["tasks"] >= 2
    assert got["shuffle_write_bytes"] > 0 and got["shuffle_read_bytes"] > 0
    assert got["shuffle_records"] >= 7
    assert got["executor_run_s"] >= 0 and got["failed_tasks"] == 0


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    selfs = tracing.self_times(spans)
    assert selfs == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}
