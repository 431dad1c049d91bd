"""Job metrics: success/error counters (reference O20).

The reference keeps mutex-guarded success/error counters incremented per
record by the worker pool (``util/utils.go:10-40``; incremented at
``mapreduce/mapreduce.go:46,49``; reported at ``main.go:136-137``). The
Spark-native equivalents:

- :class:`IngestCounter` — ``LongAccumulator``-backed counters updated
  task-side, readable on the driver. Used by imperative sink paths
  (``foreachPartition``-style loads).
- :func:`observed` — declarative per-batch metrics via ``df.observe``:
  no Python in the row path, metrics ride the existing job. Preferred
  for DataFrame pipelines; works in Structured Streaming too (metrics
  surface per micro-batch through ``QueryProgressEvent``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class IngestCounter:
    """Accumulator-backed success/error counters (parity: ``util/utils.go:
    10-40``). Safe to update from tasks; read on the driver after actions."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._succeeded = sc.accumulator(0)
        self._errors = sc.accumulator(0)

    def increment_succeeded(self, n: int = 1) -> None:
        self._succeeded.add(n)

    def increment_errors(self, n: int = 1) -> None:
        self._errors.add(n)

    @property
    def succeeded(self) -> int:
        return self._succeeded.value

    @property
    def errors(self) -> int:
        return self._errors.value

    def report(self) -> str:
        """Job-end summary line (parity: ``main.go:136-137``)."""
        return f"records succeeded={self.succeeded} errors={self.errors}"


def _ingest_counters(error_condition: str | None) -> list:
    """The ``rows_total`` / ``rows_error`` / ``rows_succeeded`` aggregates
    both :func:`observed` and :func:`observed_stream` attach; rows
    matching the SQL boolean ``error_condition`` count as errors, a NULL
    condition counts as success. ``count_if`` (not ``sum``) keeps every
    counter 0, never NULL, over zero rows."""
    err = F.coalesce(F.expr(error_condition), F.lit(False)) if error_condition else F.lit(False)
    return [
        F.count(F.lit(1)).alias("rows_total"),
        F.count_if(err).alias("rows_error"),
        F.count_if(~err).alias("rows_succeeded"),
    ]


def observed(
    df: DataFrame, error_condition: str | None = None
) -> "tuple[DataFrame, object]":
    """Attach declarative row/error counts to a DataFrame plan.

    ``error_condition`` is a SQL boolean expression identifying bad rows
    (e.g. ``"user IS NULL"``); rows matching it count as errors, the rest
    as succeeded. Returns ``(df, observation)``: metrics are collected
    during whatever action runs the plan (no extra job) and read from
    ``observation.get`` afterwards — the declarative twin of
    :class:`IngestCounter` (reference ``main.go:136-137`` reporting).
    """
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *_ingest_counters(error_condition)), obs


def observed_stream(
    df: DataFrame, name: str = "ingest_metrics", error_condition: str | None = None
) -> DataFrame:
    """Streaming twin of :func:`observed`: attach named per-micro-batch
    row/error counts to a STREAMING DataFrame.

    The ``Observation``-object form above is batch-only (its ``get``
    blocks on a single action); streams use the name-based
    ``df.observe(name, ...)`` — each micro-batch's counts surface in
    ``StreamingQueryProgress.observedMetrics[name]`` (readable from
    ``query.lastProgress``/``recentProgress`` or a
    ``StreamingQueryListener``). No Python in the row path, no extra
    job: the aggregates ride the micro-batch that was running anyway —
    at 100 TB arrival rates the quarantine ledger costs nothing and
    never drives a ``collect``. Use :func:`stream_metric_totals` to sum
    a finished query's ledger."""
    return df.observe(name, *_ingest_counters(error_condition))


def stream_metric_totals(query, name: str = "ingest_metrics") -> dict[str, int]:
    """Sum a streaming query's :func:`observed_stream` ledger across all
    progress events retained in ``query.recentProgress`` (every event
    for a drained ``availableNow`` run; the retention window —
    ``spark.sql.streaming.numRecentProgressUpdates`` — for a long-lived
    query, where a listener should accumulate instead)."""
    totals = {"rows_total": 0, "rows_error": 0, "rows_succeeded": 0}
    for p in query.recentProgress:
        # p is a dict (PySpark) whose observedMetrics values are Rows —
        # present only when the micro-batch executed the observed plan
        m = (p.get("observedMetrics") or {}).get(name)
        if m is not None:
            d = m.asDict() if hasattr(m, "asDict") else dict(m)
            for k in totals:
                if d.get(k) is not None:
                    totals[k] += int(d[k])
    return totals
