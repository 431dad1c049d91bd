"""Structured-Streaming parity tests (reference O14/O19 + SURVEY §2.2 streaming rows)."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_ingestor_spark.schemas import MIST_NESTED_SCHEMA, TEMPLATE_COLUMNS
from data_ingestor_spark.sources import load, read_records
from data_ingestor_spark.streaming import (
    await_streams,
    session_windowed_counts,
    stateful_dedup,
    stream_load,
    tumbling_counts,
    write_stream_batches,
)

from conftest import FIXTURES, SF_DIR


def _drain(query):
    query.awaitTermination(120)
    assert not query.isActive


def test_stream_ingest_flatten_counts(spark, tmp_path):
    """File-source streaming ingest runs the SAME scan→flatten→project plan
    as batch and yields the same 17 rows (O14 parity)."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), in_dir / "batch0.json")

    flat = stream_load(spark, str(in_dir), MIST_NESTED_SCHEMA, columns=TEMPLATE_COLUMNS)
    assert flat.isStreaming
    seen = []
    q = write_stream_batches(
        flat, str(tmp_path / "ckpt"), lambda df, bid: seen.append(df.collect())
    )
    _drain(q)
    rows = [r for batch in seen for r in batch]
    assert len(rows) == 17
    assert rows[0].__fields__ == TEMPLATE_COLUMNS


def test_await_streams_stops_every_query_on_timeout_and_on_success(spark, tmp_path):
    """A query that does not finish in time raises TimeoutError naming
    the caller, and every query passed in is stopped, the finished one
    and the one still running alike; on success all are stopped too."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), in_dir / "a.json")

    def drained(name):
        flat = stream_load(spark, str(in_dir), MIST_NESTED_SCHEMA, columns=TEMPLATE_COLUMNS)
        return write_stream_batches(flat, str(tmp_path / name), lambda df, bid: None)

    endless = spark.readStream.format("rate").load().writeStream.format("noop").start()
    finished = drained("ckpt_a")
    with pytest.raises(TimeoutError, match="^caller: stream did not finish within 0.5s$"):
        await_streams("caller", finished, endless, timeout_s=0.5)
    assert not finished.isActive and not endless.isActive

    queries = [drained("ckpt_b"), drained("ckpt_c")]
    await_streams("caller", *queries)
    assert not any(q.isActive for q in queries)
    assert all(q.lastProgress is not None for q in queries)


def test_exactly_once_checkpoint_no_redelivery(spark, tmp_path):
    """Restarting from the same checkpoint must not re-emit processed files."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), in_dir / "a.json")

    counts = []
    flat = stream_load(spark, str(in_dir), MIST_NESTED_SCHEMA, columns=TEMPLATE_COLUMNS)
    _drain(write_stream_batches(flat, ckpt, lambda df, bid: counts.append(df.count())))
    assert sum(counts) == 17

    # second run, same checkpoint, no new files → zero new rows
    counts2 = []
    flat2 = stream_load(spark, str(in_dir), MIST_NESTED_SCHEMA, columns=TEMPLATE_COLUMNS)
    _drain(write_stream_batches(flat2, ckpt, lambda df, bid: counts2.append(df.count())))
    assert sum(counts2) == 0


def test_tumbling_counts_batch_streaming_equivalence(spark, tmp_path):
    """The windowed-agg plan is mode-agnostic: batch and streaming runs over
    the same events produce identical window counts."""
    from data_ingestor_spark.plans.registry import load_table

    events = load_table(spark, SF_DIR, "events").limit(2000).cache()
    batch_out = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in tumbling_counts(events, watermark="1 day").collect()
    }

    stream_dir = tmp_path / "stream_in"
    events.coalesce(1).write.parquet(str(stream_dir))
    s_events = spark.readStream.schema(events.schema).parquet(str(stream_dir))
    got = []
    # update mode: append would hold back windows the watermark hasn't
    # closed by stream end; update emits every changed window per batch —
    # the dict keeps the latest (final) count per window.
    q = write_stream_batches(
        tumbling_counts(s_events, watermark="1 day"),
        str(tmp_path / "ckpt"),
        lambda df, bid: got.extend(df.collect()),
        output_mode="update",
    )
    _drain(q)
    stream_out = {(r["window_start"], r["event_type"]): r["n_events"] for r in got}
    assert stream_out == batch_out


def test_session_window_batch(spark):
    from data_ingestor_spark.plans.registry import load_table

    events = load_table(spark, SF_DIR, "events").limit(500)
    out = session_windowed_counts(events, gap="5 minutes").collect()
    assert len(out) > 0
    assert all(r["session_end"] > r["session_start"] for r in out)
    assert sum(r["n_events"] for r in out) == 500


def test_stateful_dedup_streaming(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per key on a stream with
    duplicated input files (stateful dedup, SURVEY §2.2)."""
    from data_ingestor_spark.plans.registry import load_table

    events = load_table(spark, SF_DIR, "events").limit(300).cache()
    stream_dir = tmp_path / "in"
    # the same 300 events written twice → pure duplicates across files
    events.coalesce(1).write.mode("overwrite").parquet(str(stream_dir / "f1"))
    events.coalesce(1).write.mode("overwrite").parquet(str(stream_dir / "f2"))
    s = spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "1").parquet(
        str(stream_dir) + "/*"
    )
    got = []
    q = write_stream_batches(
        stateful_dedup(s, ["event_id"], watermark="10 days"),
        str(tmp_path / "ckpt"),
        lambda df, bid: got.extend(df.collect()),
    )
    _drain(q)
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)) == events.select("event_id").distinct().count()


def test_stateful_dedup_batch_fallback(spark):
    from data_ingestor_spark.plans.registry import load_table

    events = load_table(spark, SF_DIR, "events").limit(100)
    doubled = events.unionAll(events)
    assert stateful_dedup(doubled, ["event_id"]).count() == events.select("event_id").distinct().count()


def test_applyinpandaswithstate_running_counters(spark, tmp_path):
    """Custom stateful operator: per-user running counters must carry
    state ACROSS micro-batches (total_events accumulates while
    batch_events resets)."""
    from data_ingestor_spark.plans.registry import load_table
    from data_ingestor_spark.streaming.stateful import running_user_counters

    events = load_table(spark, SF_DIR, "events").limit(400).cache()
    stream_dir = tmp_path / "in"
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    half1 = events.filter("event_id % 2 = 0")
    half2 = events.filter("event_id % 2 = 1")
    half1.coalesce(1).write.parquet(str(stream_dir / "f1"))
    half2.coalesce(1).write.parquet(str(stream_dir / "f2"))

    s = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/*")
    )
    got = []
    q = write_stream_batches(
        running_user_counters(s),
        str(tmp_path / "ckpt"),
        lambda df, bid: got.extend((bid, r) for r in df.collect()),
    )
    _drain(q)

    # final running totals per user == batch totals summed across batches
    finals = {}
    batch_sums = {}
    for bid, r in got:
        finals[r["user_id"]] = max(
            finals.get(r["user_id"], 0), r["total_events"]
        )
        batch_sums[r["user_id"]] = batch_sums.get(r["user_id"], 0) + r["batch_events"]
    assert finals == batch_sums
    expected = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert finals == expected


def test_session_window_batch_streaming_equivalence(spark, tmp_path):
    """Session windows must merge identically in batch and streaming.

    Session aggregation only supports append mode, which emits a session
    once the watermark passes its end — so the comparison covers the
    watermark-closed subset (every session except those still open at
    stream end)."""
    import datetime

    from data_ingestor_spark.plans.registry import load_table

    events = load_table(spark, SF_DIR, "events").limit(800).cache()
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(seconds=1)
    batch_out = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in session_windowed_counts(events, gap="10 minutes", watermark="1 second").collect()
        if r["session_end"] <= horizon
    }
    stream_dir = tmp_path / "in"
    events.coalesce(1).write.parquet(str(stream_dir))
    s = spark.readStream.schema(events.schema).parquet(str(stream_dir))
    got = []
    q = write_stream_batches(
        session_windowed_counts(s, gap="10 minutes", watermark="1 second"),
        str(tmp_path / "ckpt"),
        lambda df, bid: got.extend(df.collect()),
    )
    _drain(q)
    stream_out = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in got
        if r["session_end"] <= horizon
    }
    assert len(batch_out) > 0
    assert stream_out == batch_out


def test_stream_static_enrichment(spark, tmp_path):
    """Stream⋈static dim join enriches each micro-batch; no state."""
    from data_ingestor_spark.streaming.joins import enrich_with_static

    dim = spark.createDataFrame(
        [(t, f"name_{t}") for t in ["click", "view", "purchase", "signup", "error"]],
        "event_type string, type_name string",
    )
    from data_ingestor_spark.plans.registry import load_table

    events = load_table(spark, SF_DIR, "events").limit(200).cache()
    stream_dir = tmp_path / "in"
    events.coalesce(1).write.parquet(str(stream_dir))
    s = spark.readStream.schema(events.schema).parquet(str(stream_dir))
    got = []
    q = write_stream_batches(
        enrich_with_static(s, dim, on="event_type"),
        str(tmp_path / "ckpt"),
        lambda df, bid: got.extend(df.collect()),
    )
    _drain(q)
    assert len(got) == 200
    assert all(r["type_name"] == f"name_{r['event_type']}" for r in got if r["type_name"])


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream⋈stream join produces the same matched pairs as
    the equivalent batch join."""
    from data_ingestor_spark.plans.registry import load_table
    from data_ingestor_spark.streaming.joins import join_streams_windowed

    events = load_table(spark, SF_DIR, "events").limit(300).select("event_id", "user_id", "ts").cache()
    l_dir, r_dir = tmp_path / "l", tmp_path / "r"
    events.coalesce(1).write.parquet(str(l_dir))
    events.coalesce(1).write.parquet(str(r_dir))

    # batch truth: same-user pairs within (0, 10min]
    a, b = events.alias("a"), events.alias("b")
    batch = {
        (r["la"], r["rb"])
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .select(F.col("a.event_id").alias("la"), F.col("b.event_id").alias("rb"))
        .collect()
    }

    ls = spark.readStream.schema(events.schema).parquet(str(l_dir))
    rs = spark.readStream.schema(events.schema).parquet(str(r_dir)).withColumnRenamed("event_id", "r_event_id")
    joined = join_streams_windowed(ls, rs, key="user_id", watermark="30 days")
    got = []
    q = write_stream_batches(
        joined, str(tmp_path / "ckpt"), lambda df, bid: got.extend(df.collect())
    )
    _drain(q)
    stream_pairs = {(r["event_id"], r["r_event_id"]) for r in got}
    assert stream_pairs == batch


def test_stateful_operator_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState state must persist across query RESTARTS
    (checkpoint recovery), not just across micro-batches: totals after
    the second run continue from the first run's state."""
    from data_ingestor_spark.plans.registry import load_table
    from data_ingestor_spark.streaming.stateful import running_user_counters

    events = load_table(spark, SF_DIR, "events").limit(200).cache()
    stream_dir = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    half1 = events.filter("event_id % 2 = 0")
    half2 = events.filter("event_id % 2 = 1")
    half1.coalesce(1).write.parquet(str(stream_dir / "f1"))

    def run_once(collector):
        s = spark.readStream.schema(events.schema).parquet(str(stream_dir) + "/*")
        q = write_stream_batches(
            running_user_counters(s), ckpt, lambda df, bid: collector.extend(df.collect())
        )
        _drain(q)

    got1 = []
    run_once(got1)
    totals1 = {r["user_id"]: r["total_events"] for r in got1}
    assert totals1 == {
        r["user_id"]: r["n"]
        for r in half1.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }

    # new file lands while the query is DOWN; restart from same checkpoint
    half2.coalesce(1).write.parquet(str(stream_dir / "f2"))
    got2 = []
    run_once(got2)
    totals2 = {r["user_id"]: r["total_events"] for r in got2}
    expected_all = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    # users seen in run 2 carry cumulative totals incl. run-1 state
    for uid, tot in totals2.items():
        assert tot == expected_all[uid]
    # and run 2 only processed the new file (batch deltas = half2 counts)
    half2_counts = {
        r["user_id"]: r["n"]
        for r in half2.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert {r["user_id"]: r["batch_events"] for r in got2} == half2_counts


def test_idempotent_batch_publish_exactly_once(spark, tmp_path):
    """The batch-dir sink is exactly-once under replay: a re-delivered
    batch_id is a no-op, new batches append, and the target reads back
    as one partitioned dataset."""
    from data_ingestor_spark.streaming import idempotent_batch_publish

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "out")
    shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), in_dir / "a.json")

    sink = idempotent_batch_publish(target)
    flat = stream_load(spark, str(in_dir), MIST_NESTED_SCHEMA, columns=TEMPLATE_COLUMNS)
    _drain(write_stream_batches(flat, ckpt, sink))
    assert spark.read.parquet(target).count() == 17

    # simulate post-sink-pre-checkpoint crash: the SAME batch_id is
    # re-delivered (here: called directly) — must be a no-op even with
    # different data attached to the replay
    replay_df = spark.read.parquet(target).limit(3)
    committed = sorted(os.listdir(target))
    sink(replay_df, 0)
    assert spark.read.parquet(target).count() == 17
    assert sorted(os.listdir(target)) == committed

    # a genuinely new file becomes a NEW batch dir; totals accumulate
    shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), in_dir / "b.json")
    flat2 = stream_load(spark, str(in_dir), MIST_NESTED_SCHEMA, columns=TEMPLATE_COLUMNS)
    _drain(write_stream_batches(flat2, ckpt, sink))
    readback = spark.read.parquet(target)
    assert readback.count() == 34
    assert "batch_id" in readback.columns
    assert readback.select("batch_id").distinct().count() == 2


def test_transformwithstate_matches_applyinpandaswithstate(spark, tmp_path):
    """The Spark 4 transformWithStateInPandas operator must produce the
    SAME final per-user running totals as the applyInPandasWithState
    twin — two APIs, one semantics (streaming/stateful.py)."""
    from data_ingestor_spark.plans.registry import load_table
    from data_ingestor_spark.streaming.stateful import (
        running_user_counters,
        running_user_counters_tws,
    )

    import pytest as _pytest

    if running_user_counters_tws is None:
        _pytest.skip("transformWithState API not available in this runtime")
    try:  # the state-server protocol needs protobuf in the Python worker
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        _pytest.skip("google.protobuf not available — transformWithState "
                     "state server cannot start in this container")

    events = load_table(spark, SF_DIR, "events").limit(400).cache()
    stream_dir = tmp_path / "in"
    half1 = events.filter("event_id % 2 = 0")
    half2 = events.filter("event_id % 2 = 1")
    half1.coalesce(1).write.parquet(str(stream_dir / "f1"))
    half2.coalesce(1).write.parquet(str(stream_dir / "f2"))

    def finals_for(op, ckpt):
        s = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(stream_dir) + "/*")
        )
        got = []
        q = write_stream_batches(
            op(s), str(tmp_path / ckpt), lambda df, bid: got.extend(df.collect())
        )
        _drain(q)
        finals = {}
        for r in got:  # later batches overwrite: keep the last total per user
            finals[r["user_id"]] = (r["total_events"], round(r["total_value"], 6))
        return finals

    a = finals_for(running_user_counters, "ckpt_a")
    b = finals_for(running_user_counters_tws, "ckpt_b")
    assert a == b
    # and both equal the batch ground truth
    truth = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert {u: v[0] for u, v in a.items()} == {u: v[0] for u, v in truth.items()}


def test_idempotent_batch_publish_scheme_qualified_uri(spark, tmp_path):
    """The sink resolves the Hadoop FileSystem from the target URI's
    scheme — a file:// URI (the local stand-in for hdfs://...) must
    behave identically to a bare path: commit, replay no-op, append."""
    from data_ingestor_spark.streaming import idempotent_batch_publish

    target_local = str(tmp_path / "out_uri")
    sink = idempotent_batch_publish("file://" + target_local)
    sink(spark.range(10), 0)
    assert spark.read.parquet(target_local).count() == 10
    sink(spark.range(99), 0)  # replayed batch_id: must be a no-op
    assert spark.read.parquet(target_local).count() == 10
    sink(spark.range(5), 1)  # new batch appends
    back = spark.read.parquet(target_local)
    assert back.count() == 15
    assert back.select("batch_id").distinct().count() == 2


def test_stream_rollup_maintain_incremental_and_equal_to_batch(spark):
    """q_stream_rollup_maintain produces exactly the batch cascade's
    weekly result (the key itself asserts that its query ran >= 2
    micro-batches — 4 split files at one file per trigger)."""
    from data_ingestor_spark.plans import queries as q

    streamed = {
        (r["event_type"], r["w"]): (
            r["n"], r["total_cents"], r["mean_cents"], r["min_cents"], r["max_cents"]
        )
        for r in q.REGISTRY["q_stream_rollup_maintain"].fn(spark, SF_DIR).collect()
    }
    batch = {
        (r["event_type"], r["w"]): (
            r["n"], r["total_cents"], r["mean_cents"], r["min_cents"], r["max_cents"]
        )
        for r in q.REGISTRY["q_agg_rollup_cascade"].fn(spark, SF_DIR).collect()
    }
    assert streamed == batch


def test_stream_rollup_split_follows_the_source(spark, tmp_path):
    """Two sf dirs with the same basename, run in one process: each run
    streams its own events, not a split left behind by the other."""
    from data_ingestor_spark.plans import queries as q
    from data_ingestor_spark.plans.registry import load_table

    events = load_table(spark, SF_DIR, "events")
    results = []
    for parity in (0, 1):
        sf = str(tmp_path / f"copy{parity}" / "sf")
        events.filter(events.event_id % 2 == parity).write.parquet(f"{sf}/events.parquet")
        streamed = q.REGISTRY["q_stream_rollup_maintain"].fn(spark, sf).collect()
        assert sorted(streamed) == sorted(q.REGISTRY["q_agg_rollup_cascade"].fn(spark, sf).collect())
        results.append(sorted(streamed))
    assert results[0] != results[1]


def _maintain_cases():
    from data_ingestor_spark.ext.text import bm25_query_maintained, maintain_bm25_index
    from data_ingestor_spark.plans import queries as q
    from data_ingestor_spark.plans.timeseries import cascade_hourly, maintain_hourly_rollup

    return {
        "rollup": (
            "events",
            lambda *a: [maintain_hourly_rollup(*a)],
            lambda spark, root: cascade_hourly(spark.read.parquet(f"{root}/hourly"), "event_type"),
            q.REGISTRY["q_agg_rollup_cascade"].fn,
        ),
        "bm25": (
            "documents",
            maintain_bm25_index,
            bm25_query_maintained,
            q.REGISTRY["q_text_bm25"].fn,
        ),
    }


@pytest.mark.parametrize("case", ["rollup", "bm25"])
def test_maintain_is_exactly_once_over_its_checkpoint(spark, tmp_path, case):
    """The two checkpointed incremental states: (a) the maintained
    result equals the batch twin; (b) a restart over the finished
    checkpoint runs no input and leaves the output unchanged; (c) with
    the last commit-log entry deleted (a crash after the sink ran,
    before the commit), a restart replays exactly that batch and the
    output is unchanged. (c) first asserts that the commit file is
    where Structured Streaming keeps it, so a Spark that moves the
    commit log fails here instead of passing vacuously."""
    from data_ingestor_spark.plans.registry import load_table

    table, maintain, serve, twin = _maintain_cases()[case]
    in_dir, root = str(tmp_path / "in"), str(tmp_path / "state")
    load_table(spark, SF_DIR, table).repartition(4).write.parquet(in_dir)

    def rows():
        return sorted(map(tuple, serve(spark, root).collect()))

    queries = maintain(spark, in_dir, root)
    assert all(len({p["batchId"] for p in q.recentProgress}) == 4 for q in queries)
    first = rows()
    assert first == sorted(map(tuple, twin(spark, SF_DIR).collect())) and first  # (a)

    queries = maintain(spark, in_dir, root)  # (b)
    assert sum(p["numInputRows"] for q in queries for p in q.recentProgress) == 0
    assert rows() == first

    # (c): the last batch (id 3) crashed after its sink ran
    commits = sorted(glob.glob(os.path.join(root, "_checkpoint*", "commits", "3")))
    assert len(commits) == len(queries), commits
    for commit in commits:
        os.remove(commit)
        crc = os.path.join(os.path.dirname(commit), ".3.crc")
        if os.path.exists(crc):
            os.remove(crc)
    queries = maintain(spark, in_dir, root)
    assert [{p["batchId"] for p in q.recentProgress if p["numInputRows"]} for q in queries] == [
        {3}
    ] * len(queries)
    assert rows() == first


def test_stream_json_quarantines_malformed_documents(spark, tmp_path):
    """r9 ingest-totality, streaming twin: one poison file must not
    kill the long-running query OR vanish silently. With corrupt_col
    set, a truncated document flows through as one quarantine row (raw
    text in the corrupt column, record fields NULL) while the good
    document's records load normally; an empty-but-well-formed Records
    array adds nothing."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), in_dir / "good.json")
    (in_dir / "truncated.json").write_text('{"Records": [{"user": "a", ')
    (in_dir / "empty_ok.json").write_text('{"Records": []}')

    recs = read_records(
        spark.readStream, str(in_dir), "json", MIST_NESTED_SCHEMA,
        corrupt_col="_corrupt_record",
    )
    assert recs.isStreaming
    seen = []
    q = write_stream_batches(
        recs, str(tmp_path / "ckpt"), lambda df, bid: seen.append(df.collect())
    )
    _drain(q)
    rows = [r for batch in seen for r in batch]
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 10  # the fixture's 10 records, all fields intact
    assert all(r.user is not None for r in good)
    assert len(bad) == 1  # the truncated document, quarantined whole
    assert bad[0].user is None
    assert '"user": "a"' in bad[0]["_corrupt_record"]


@pytest.mark.parametrize("fmt", ["json", "xml", "csv"])
def test_stream_ingest_matches_batch(spark, tmp_path, fmt):
    """Batch/stream parity in every ingest format: ``stream_load`` runs
    the same scan→flatten→project plan as the batch ``load`` under
    Structured Streaming, so both agree row for row on the same file —
    the reference's flagship live path streams XML
    (fileloader-schema.go:142-197 into mapreduce.go:54-105). The CSV
    file is the XML fixture's flattened rows as the load job exports
    them, read back with the NESTED record schema as both jobs do."""
    from data_ingestor_spark.operators.flatten import flatten_nested
    from data_ingestor_spark.sinks import export_csv

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    src = in_dir / f"feed0.{fmt}"
    if fmt == "csv":
        xml = load(spark, os.path.join(FIXTURES, "ingest-records.xml"), schema=MIST_NESTED_SCHEMA)
        export_csv(flatten_nested(xml, columns=TEMPLATE_COLUMNS), str(src), single_file=True)
    else:
        shutil.copy(os.path.join(FIXTURES, f"ingest-records.{fmt}"), src)
    batch = flatten_nested(
        load(spark, str(src), fmt=fmt, schema=MIST_NESTED_SCHEMA),
        columns=TEMPLATE_COLUMNS,
    ).collect()

    flat = stream_load(
        spark,
        str(in_dir),
        MIST_NESTED_SCHEMA,
        columns=TEMPLATE_COLUMNS,
        fmt=fmt,
    )
    assert flat.isStreaming
    seen = []
    q = write_stream_batches(
        flat, str(tmp_path / "ckpt"), lambda df, bid: seen.append(df.collect())
    )
    _drain(q)
    rows = [r for batch in seen for r in batch]
    assert rows and rows[0].__fields__ == TEMPLATE_COLUMNS

    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, batch))


def test_stream_load_bounds_bytes_per_trigger(spark, tmp_path, monkeypatch):
    """stream_load bounds each micro-batch by input bytes
    (``MAX_BYTES_PER_TRIGGER``, the channel-capacity analogue,
    main.go:57), not by a file count: 11 small files drain in exactly
    one micro-batch, and with the bound below one file's size every
    file still drains, as a micro-batch of its own."""
    from pyspark.sql import types as T

    from data_ingestor_spark.streaming import ingest

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i in range(11):
        (in_dir / f"feed{i:02d}.csv").write_text(f"user\nu{i}\n")
    schema = T.StructType([T.StructField("user", T.StringType(), True)])

    def drain(ckpt):
        batches = []
        q = write_stream_batches(
            stream_load(spark, str(in_dir), schema, fmt="csv"),
            str(tmp_path / ckpt),
            lambda df, bid: batches.append((bid, df.count())),
        )
        _drain(q)
        return batches

    assert drain("ckpt_default") == [(0, 11)]
    monkeypatch.setattr(ingest, "MAX_BYTES_PER_TRIGGER", 1)
    assert drain("ckpt_one_byte") == [(b, 1) for b in range(11)]


@pytest.mark.parametrize("fmt", ["json", "xml", "csv"])
def test_run_stream_job_archives_every_input(spark, tmp_path, fmt):
    """O19 parity on the live path in every ingest format: after a
    successful drain, run_stream_job has moved every input into
    ``archive_dir`` exactly once (the last micro-batch's files too) and
    the watch dir is empty."""
    from pyspark.sql import types as T

    from data_ingestor_spark.pipeline import run_stream_job

    in_dir = tmp_path / "in"
    arch = tmp_path / "archived"
    in_dir.mkdir()
    names = [f"feed{i}.{fmt}" for i in range(3)]
    kw = {}
    if fmt == "csv":
        kw = {"schema": T.StructType([T.StructField("user", T.StringType(), True)]),
              "columns": None}
    for name in names:
        if fmt == "csv":
            (in_dir / name).write_text(f"user\n{name}\n")
        else:
            shutil.copy(os.path.join(FIXTURES, f"ingest-records.{fmt}"), in_dir / name)

    res = run_stream_job(
        spark, str(in_dir), str(tmp_path / "out"), fmt=fmt, archive_dir=str(arch),
        timeout_s=120, **kw,
    )
    # every input was ingested (17 json / 14 xml / 1 csv rows per file) ...
    assert res.rows_published == 3 * {"json": 17, "xml": 14, "csv": 1}[fmt]
    # ... and then archived exactly once, the last micro-batch's too
    assert list(in_dir.iterdir()) == []
    assert sorted(p.name for p in arch.rglob("*")) == names
    assert sorted(os.path.basename(p) for p in res.files_archived) == names
    assert "archived_files=3" in res.report()


def test_committed_input_files_reads_the_compacted_file_source_log(spark, tmp_path, monkeypatch):
    """Pins the Spark-internal file-source log that job-end archiving
    reads (``<ckpt>/sources/0/<n>`` and ``<n>.compact``, a ``v1`` header
    then JSON lines): with a compact interval of 2, five one-file
    micro-batches leave ``.compact`` files in the log, and
    committed_input_files still names exactly the five inputs. A Spark
    upgrade that moves or reshapes the log fails here. Then a first
    run_stream_job without ``archive_dir`` archives nothing, and a
    re-run over the same checkpoint with no new files archives every
    input from the log alone. A file written again under an ingested
    name is skipped by the source, so it is not archived either: it
    stays in the watch dir, where it can be seen."""
    from pyspark.sql import types as T

    from data_ingestor_spark.pipeline import run_stream_job
    from data_ingestor_spark.streaming import committed_input_files, ingest

    in_dir = tmp_path / "in dir"  # a space: log paths are URI-encoded
    in_dir.mkdir()
    paths = []
    for i in range(5):
        p = in_dir / f"feed{i}.csv"
        p.write_text(f"user\nu{i}\n")
        paths.append(str(p))
    schema = T.StructType([T.StructField("user", T.StringType(), True)])
    ckpt, arch = tmp_path / "ckpt", tmp_path / "archived"

    def drain(**kw):
        return run_stream_job(
            spark, str(in_dir), str(tmp_path / "out"), schema=schema, columns=None,
            fmt="csv", checkpoint_dir=str(ckpt), timeout_s=120, **kw,
        )

    key = "spark.sql.streaming.fileSource.log.compactInterval"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    monkeypatch.setattr(ingest, "MAX_BYTES_PER_TRIGGER", 1)
    try:
        res = drain()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert res.rows_published == 5 and res.files_archived == []
    log = sorted(os.listdir(ckpt / "sources" / "0"))
    assert [n for n in log if not n.startswith(".")] == ["0", "1.compact", "2", "3.compact", "4"]
    assert sorted(committed_input_files(str(ckpt))) == paths

    res2 = drain(archive_dir=str(arch))
    assert res2.rows_published == 5  # nothing replayed, nothing new
    assert sorted(res2.files_archived) == sorted(str(arch / os.path.basename(p)) for p in paths)
    assert list(in_dir.iterdir()) == []

    shutil.copy(arch / "feed0.csv", in_dir)  # a new modification time
    res3 = drain(archive_dir=str(arch))
    assert res3.rows_published == 5 and res3.files_archived == []
    assert [p.name for p in in_dir.iterdir()] == ["feed0.csv"]


def test_stream_xml_quarantines_poison_file(spark, tmp_path):
    """r10 ingest-totality, streaming-XML edition: one poison XML file
    (unclosed tag swallowing the tail) must neither kill the
    long-running query nor silently vanish — its damaged remainder
    flows through as quarantine rows (raw text in the corrupt column,
    schema fields NULL) while well-formed records from BOTH files load
    normally."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(os.path.join(FIXTURES, "ingest-records.xml"), in_dir / "good.xml")
    (in_dir / "poison.xml").write_text(
        "<Data>\n"
        "  <Record><user>zed</user><dt_created>1700000009</dt_created>"
        "<dt_submitted>1700000109</dt_submitted></Record>\n"
        "  <Record><user>broken</user><dt_created>17</dt\n"
        "</Data>\n"
    )

    recs = read_records(
        spark.readStream, str(in_dir), "xml", MIST_NESTED_SCHEMA,
        corrupt_col="_corrupt_record",
    )
    assert recs.isStreaming
    seen = []
    q = write_stream_batches(
        recs, str(tmp_path / "ckpt"), lambda df, bid: seen.append(df.collect())
    )
    _drain(q)
    rows = [r for batch in seen for r in batch]
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert "zed" in {r.user for r in good}  # poison file's leading record survives
    assert len(good) >= 2  # plus the clean file's records
    assert bad, "damaged remainder must be quarantined, not dropped"
    assert all(r.user is None or r.user == "broken" for r in bad)


def test_stream_csv_ingest_matches_batch(spark, tmp_path):
    """Streaming-CSV ingest twin: the typed CSV scan under Structured
    Streaming must load the same rows as the batch front door
    (``sources.readers.load`` fmt="csv") over the same file —
    completing the JSON/XML/CSV streaming trio."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user", T.StringType(), True),
            T.StructField("score", T.IntegerType(), True),
        ]
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "feed0.csv").write_text("user,score\nalice,10\nbob,20\ncara,30\n")

    flat = stream_load(spark, str(in_dir), schema, fmt="csv")
    assert flat.isStreaming
    seen = []
    q = write_stream_batches(
        flat, str(tmp_path / "ckpt"), lambda df, bid: seen.append(df.collect())
    )
    _drain(q)
    rows = [r for batch in seen for r in batch]

    batch = load(
        spark, str(in_dir / "feed0.csv"), fmt="csv", schema=schema
    ).collect()
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, batch))


def test_stream_csv_quarantines_bad_typed_cell(spark, tmp_path):
    """Ingest-totality, streaming-CSV edition: a row whose cell fails
    the typed schema (non-numeric in an int column) must flow through
    as a quarantine row — raw line in the corrupt column, schema
    fields NULL where unparseable — not become a silent all-NULL row
    and not kill the query; clean rows from the same and other files
    load normally."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user", T.StringType(), True),
            T.StructField("score", T.IntegerType(), True),
        ]
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "good.csv").write_text("user,score\nalice,10\nbob,20\n")
    (in_dir / "poison.csv").write_text(
        "user,score\ncara,30\nmallory,NOT_A_NUMBER\ndan,40\n"
    )

    recs = read_records(
        spark.readStream, str(in_dir), "csv", schema, corrupt_col="_corrupt_record"
    )
    assert recs.isStreaming
    seen = []
    q = write_stream_batches(
        recs, str(tmp_path / "ckpt"), lambda df, bid: seen.append(df.collect())
    )
    _drain(q)
    rows = [r for batch in seen for r in batch]
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r.user for r in good} == {"alice", "bob", "cara", "dan"}
    assert len(bad) == 1, "the damaged row must be quarantined, not dropped"
    assert "NOT_A_NUMBER" in bad[0]["_corrupt_record"]
    assert bad[0]["score"] is None


def test_committed_input_files_leaves_out_an_uncommitted_batch(spark, tmp_path, monkeypatch):
    """A micro-batch whose sink failed is in the file-source log but not
    in the commit log; its inputs will replay, so they are not named as
    committed (archiving them would make the replay fail)."""
    from pyspark.sql import types as T

    from data_ingestor_spark.streaming import committed_input_files, ingest

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i in range(2):
        (in_dir / f"feed{i}.csv").write_text(f"user\nu{i}\n")
    os.utime(in_dir / "feed0.csv", (1_000_000_000, 1_000_000_000))  # oldest drains first
    schema = T.StructType([T.StructField("user", T.StringType(), True)])
    monkeypatch.setattr(ingest, "MAX_BYTES_PER_TRIGGER", 1)

    def fail_second(df, batch_id):
        if batch_id == 1:
            raise RuntimeError("sink down")

    ckpt = tmp_path / "ckpt"
    q = write_stream_batches(stream_load(spark, str(in_dir), schema, fmt="csv"), str(ckpt), fail_second)
    with pytest.raises(Exception, match="sink down"):
        q.awaitTermination(120)
    q.stop()
    assert sorted(n for n in os.listdir(ckpt / "sources" / "0") if not n.startswith(".")) == ["0", "1"]
    assert list(committed_input_files(str(ckpt))) == [str(in_dir / "feed0.csv")]


def test_observed_stream_quarantine_ledger_no_collect(spark, tmp_path):
    """observe()-based quarantine metrics: per-micro-batch clean/error
    counts surface through StreamingQueryProgress.observedMetrics — the
    100 TB ledger path, no collect() and no extra job in the sink."""
    from pyspark.sql import types as T

    from data_ingestor_spark.metrics import observed_stream, stream_metric_totals

    schema = T.StructType(
        [
            T.StructField("user", T.StringType(), True),
            T.StructField("score", T.IntegerType(), True),
        ]
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.csv").write_text("user,score\nalice,10\nbob,BAD\ncara,30\n")
    (in_dir / "b.csv").write_text("user,score\ndan,40\neve,ALSO_BAD\n")

    recs = observed_stream(
        read_records(
            spark.readStream, str(in_dir), "csv", schema, corrupt_col="_corrupt_record"
        ),
        name="quarantine",
        error_condition="_corrupt_record IS NOT NULL",
    )
    q = write_stream_batches(
        recs, str(tmp_path / "ckpt"), lambda df, bid: df.count()
    )
    _drain(q)
    totals = stream_metric_totals(q, name="quarantine")
    assert totals == {"rows_total": 5, "rows_error": 2, "rows_succeeded": 3}


def test_stream_with_deadletter_routes_undecodable_xml(spark, tmp_path):
    """Byte-level poison (invalid UTF-8 in an XML feed) fails the StAX
    charset decoder before records exist — no row-level mode can
    quarantine it and the query dies. stream_with_deadletter must move
    the poison file (byte-for-byte) to the dead-letter dir, restart
    from the same checkpoint, and land every clean record exactly
    once."""
    from data_ingestor_spark.streaming import stream_with_deadletter

    in_dir = tmp_path / "in"
    dl_dir = tmp_path / "deadletter"
    in_dir.mkdir()
    shutil.copy(os.path.join(FIXTURES, "ingest-records.xml"), in_dir / "good.xml")
    poison = (
        b"<Data><Record><user>ev\xff\xfeil</user></Record></Data>"
    )
    (in_dir / "poison.xml").write_bytes(poison)

    seen = []

    def start():
        recs = read_records(
            spark.readStream, str(in_dir), "xml", MIST_NESTED_SCHEMA,
            corrupt_col="_corrupt_record",
        )
        return write_stream_batches(
            recs, str(tmp_path / "ckpt"), lambda df, bid: seen.append(df.collect())
        )

    res = stream_with_deadletter(
        spark, str(in_dir), str(dl_dir), start, timeout_s=120
    )
    assert res["restarts"] == 1
    assert len(res["routed"]) == 1 and res["routed"][0].endswith("poison.xml")
    # forensics: the poison file is preserved byte-for-byte, not deleted
    assert (dl_dir / "poison.xml").read_bytes() == poison
    assert not (in_dir / "poison.xml").exists()
    rows = {r.user for batch in seen for r in batch}
    # all 8 clean records landed (fixture has 8 distinct users)
    assert {"alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi"} <= rows


def test_stream_with_deadletter_reraises_without_routable_cause(spark, tmp_path):
    """A failure with NOTHING byte-level to route must re-raise the
    original error unchanged — restarts only ever follow a concrete
    routed cause, so a genuine bug cannot silently retry-loop."""
    import pytest as _pytest

    from data_ingestor_spark.streaming import stream_with_deadletter

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "fine.xml").write_text("<Data><Record><user>ok</user></Record></Data>")

    class SyntheticSinkBug(RuntimeError):
        pass

    class FakeQuery:
        def awaitTermination(self, _t):
            raise SyntheticSinkBug("sink exploded for a non-ingest reason")

        def stop(self):
            pass

    with _pytest.raises(SyntheticSinkBug):
        stream_with_deadletter(
            spark, str(in_dir), str(tmp_path / "dl"), lambda: FakeQuery(), timeout_s=30
        )
    # and nothing was moved
    assert (in_dir / "fine.xml").exists()
    assert not (tmp_path / "dl" / "fine.xml").exists()


def test_stream_with_deadletter_timeout_never_routes(spark, tmp_path):
    """A TIMEOUT is not a routable failure: even with an undecodable
    file sitting in the watch dir, a stream that merely ran out of time
    must raise TimeoutError and move nothing — routing only ever
    follows an actual query failure."""
    import pytest as _pytest

    from data_ingestor_spark.streaming import stream_with_deadletter

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "poison.xml").write_bytes(b"<Data>\xff\xfe</Data>")

    class SlowQuery:
        def awaitTermination(self, _t):
            return False  # still running at the deadline

        def stop(self):
            pass

    with _pytest.raises(TimeoutError):
        stream_with_deadletter(
            spark, str(in_dir), str(tmp_path / "dl"), lambda: SlowQuery(), timeout_s=1
        )
    assert (in_dir / "poison.xml").exists()  # nothing was routed


def test_stream_load_rejects_unknown_format(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported streaming ingest format"):
        stream_load(spark, str(tmp_path), MIST_NESTED_SCHEMA, fmt="avro")
