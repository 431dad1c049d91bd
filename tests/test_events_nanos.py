"""Pins the Spark behaviour that lets ``registry.raw_events`` scope
``spark.sql.legacy.parquet.nanosAsLong`` to schema resolution.

Spark's parquet reader rejects a TIMESTAMP(NANOS) column unless the flag
is set. The registry sets it only while an events frame resolves its
schema and restores the caller's value before any row is read, because
on Spark 4.1 the flag is consulted only when the file footer is
converted to a Spark schema. Here an events parquet with a nanosecond
``ts`` (written by pyarrow, sub-microsecond digits in every value) is
read on the batch path (``load_table``, vectorized and row-based
readers), on the shared events stream drained to a memory sink, and by
two registry keys, each after the flag is back at its prior value. If a
Spark upgrade starts to consult the flag at execution time, these reads
fail or return wrong ``ts`` values and this file fails.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

FLAG = "spark.sql.legacy.parquet.nanosAsLong"
BASE_NS = 1_700_000_000_000_000_000  # 2023-11-14T22:13:20Z


def _write_nanos_events(path, n=240):
    """``events.parquet`` in the testdata layout with ``ts`` as
    TIMESTAMP(NANOS); returns the expected (event_id, ts in micros) rows,
    nanos truncated to micros."""
    ns = [BASE_NS + i * 97_654_321_123 + (i * 7919) % 1000 + 1 for i in range(n)]
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": [("click", "view", "purchase")[i % 3] for i in range(n)],
            "value": [round(i * 0.25, 2) for i in range(n)],
            "props": ["{}"] * n,
        }
    )
    pq.write_table(table, str(path / "events.parquet"), version="2.6")
    assert pq.read_schema(str(path / "events.parquet")).field("ts").type == pa.timestamp("ns")
    return sorted((i, t // 1000) for i, t in enumerate(ns))


def _rows(df):
    return sorted(
        (r.event_id, r.us) for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    )


@pytest.fixture(params=[None, "false"], ids=["unset", "false"])
def prior_flag(spark, request):
    """The caller's flag before each read: unset, or explicitly false."""
    if request.param is None:
        spark.conf.unset(FLAG)
    else:
        spark.conf.set(FLAG, request.param)
    yield request.param
    spark.conf.unset(FLAG)


def test_load_table_reads_nanos_ts_truncated_and_restores_flag(spark, tmp_path, prior_flag):
    from data_ingestor_spark.plans.registry import load_table

    expected = _write_nanos_events(tmp_path)
    events = load_table(spark, str(tmp_path), "events")
    assert spark.conf.get(FLAG, None) == prior_flag
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert _rows(events) == expected
    vectorized = "spark.sql.parquet.enableVectorizedReader"
    spark.conf.set(vectorized, "false")
    try:
        assert _rows(events) == expected
    finally:
        spark.conf.unset(vectorized)
    assert spark.conf.get(FLAG, None) == prior_flag


def test_events_stream_drains_the_same_rows_and_restores_flag(spark, tmp_path, prior_flag):
    from data_ingestor_spark.plans.timeseries import _drain_to_memory, _events_stream

    expected = _write_nanos_events(tmp_path)
    stream = _events_stream(spark, str(tmp_path))
    assert spark.conf.get(FLAG, None) == prior_flag
    drained = _drain_to_memory(spark, "nanos_pin", stream.select("event_id", "ts"), "append")
    assert _rows(drained) == expected
    assert spark.conf.get(FLAG, None) == prior_flag


def test_stream_keys_on_nanos_events_match_batch_and_restore_flag(spark, tmp_path, prior_flag):
    """Two registry keys that read the events file through
    ``raw_events``: the windowed stream and the rollup's split build
    (a Spark write of the raw frame) equal their batch twins."""
    from data_ingestor_spark.plans.registry import REGISTRY

    _write_nanos_events(tmp_path)
    sf = str(tmp_path)
    for stream_key, batch_key in [
        ("q_stream_window_agg", "q_window_tumbling"),
        ("q_stream_rollup_maintain", "q_agg_rollup_cascade"),
    ]:
        got = REGISTRY[stream_key].fn(spark, sf)
        assert spark.conf.get(FLAG, None) == prior_flag, stream_key
        want = REGISTRY[batch_key].fn(spark, sf)
        assert sorted(got.collect()) == sorted(want.collect()), stream_key
        assert got.count() > 1, stream_key
    assert spark.conf.get(FLAG, None) == prior_flag
