"""Job metrics: success/error counters (reference O20).

The reference keeps mutex-guarded success/error counters incremented per
record by the worker pool (``util/utils.go:10-40``; incremented at
``mapreduce/mapreduce.go:46,49``; reported at ``main.go:136-137``). The
Spark-native equivalents are declarative counts via ``df.observe``: no
Python in the row path, and the metrics ride the job that runs anyway.

- :func:`observed` — a batch plan's counts, read from an ``Observation``
  after its action (``pipeline.run_load_job``);
- :func:`observed_stream` — per-micro-batch counts of a streaming plan,
  surfaced through ``QueryProgressEvent`` (``pipeline.run_stream_job``);
  :func:`stream_metric_totals` sums a finished query's ledger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    ``observation.get`` afterwards (reference ``main.go:136-137``
    reporting).
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
