"""Time-series / event queries: tumbling, sliding and session windows
(batch-mode twins of the Structured Streaming operators in
``data_ingestor_spark.streaming``) and the as-of join.

The reference has no time semantics at all (timestamps stay strings,
``models.go:17``); these are the engine-provided stream-analytics
surface (SURVEY.md §2.2 streaming rows).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestor_spark.operators.asof import asof_join
from data_ingestor_spark.streaming.joins import enrich_with_static
from data_ingestor_spark.plans.registry import (
    dec,
    load_table,
    normalize_event_ts,
    query,
    scratch_dir,
    source_split,
)


def _ensure_symlink(link: str, src: str) -> None:
    """Create (or repair) a scratch symlink. The scratch key carries
    only basename(sf_dir), so two different datasets with the same
    basename would collide — validate the existing link's target and
    re-point it instead of silently reusing a link to the wrong data."""
    import os

    target = os.path.abspath(src)
    if os.path.islink(link):
        if os.readlink(link) == target:
            return
        os.remove(link)
    os.symlink(target, link)


# Hard cap on memory-sink materialization in the four streaming queries.
# Collecting a streaming result to the driver is ONLY sound because the
# oracle comparison needs both engines' outputs driver-side at test scale
# (sf<=0.1, aggregates of a few thousand rows); a production pipeline
# must writeStream to a durable sink instead (see streaming/ingest.py).
_MEMORY_SINK_MAX_ROWS = 2_000_000


def _collect_memory_sink(spark, df, schema):
    """Materialize a memory-sink streaming result with a scale guard so
    the collect() pattern can't silently migrate into a production path."""
    rows = df.collect()
    if len(rows) > _MEMORY_SINK_MAX_ROWS:
        raise RuntimeError(
            f"memory-sink materialization of {len(rows)} rows exceeds the "
            f"{_MEMORY_SINK_MAX_ROWS}-row test-scale guard — use a durable "
            "writeStream sink (streaming/ingest.py) for production data"
        )
    return spark.createDataFrame(rows, schema=schema)


@query(
    "q_window_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("window", "time"),
)
def q_window_tumbling(spark, sf_dir):
    """Tumbling 5-minute windows over events — F.window in batch mode,
    the exact same expression the streaming path uses. One shuffle on
    (bucket, type) with map-side partial aggregation."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(dec("value")).cast("double").alias("total_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "total_value")
    )


@query(
    "q_window_sliding",
    oracle="""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS wstart, value FROM events
    )
    SELECT wstart, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM assigned GROUP BY wstart
    """,
    tags=("window", "time"),
)
def q_window_sliding(spark, sf_dir):
    """Sliding windows: 10-minute length, 5-minute slide — every event
    lands in exactly two windows. Spark's window() generates the
    assignment without self-joining; the DuckDB oracle reproduces it as
    a two-phase union of shifted tumbling buckets."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum(dec("value")).cast("double").alias("total_value"))
        .select(F.col("w.start").alias("wstart"), "n", "total_value")
    )


@query(
    "q_window_session",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    tags=("window", "time", "session"),
)
def q_window_session(spark, sf_dir):
    """Session windows (30-minute inactivity gap) per user —
    F.session_window in batch mode, same operator the streaming path
    uses. Spark's session end = last event + gap; the oracle rebuilds
    sessions with the classic lag/cumsum formulation."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


#: Backward-as-of oracle shared by q_join_asof (the sort-merge
#: union/window operator) and q_sql_asof (the same algorithm as one
#: spark.sql() text) — DuckDB's native ASOF LEFT JOIN is the
#: independent semantics witness for both.
_ASOF_ORACLE = """
    WITH odedup AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS asof_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.asof_orderkey
    FROM events e
    ASOF LEFT JOIN odedup o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """


@query(
    "q_join_asof",
    oracle=_ASOF_ORACLE,
    tags=("join", "asof", "time"),
)
def q_join_asof(spark, sf_dir):
    """Backward as-of join: each event picks the customer's most recent
    order at event time. Right side deduped to one row per (key, time)
    for determinism. Spark side: the sort-merge union/window operator
    (operators/asof.py) — single shuffle, no Python."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("asof_orderkey"))
    )
    return asof_join(
        e,
        o,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload=["asof_orderkey"],
    )


@query(
    "q_sql_asof",
    oracle=_ASOF_ORACLE,
    tags=("sql", "join", "asof", "time"),
)
def q_sql_asof(spark, sf_dir):
    """Backward as-of join through the SQL FRONT DOOR — Spark SQL has
    no ASOF JOIN syntax, so the front door IS the operator's sort-merge
    formulation (operators/asof.py) expressed as one spark.sql() text:
    union the sides tagged (_side 0 = right sorts first at equal
    times, giving the <= semantics), one window partitioned by key
    ordered by (time, side), LAST(payload, true) forward-fills the
    most recent order onto each event, filter back to left rows. Same
    single-exchange cost and same oracle (DuckDB's native ASOF LEFT
    JOIN) as q_join_asof — a SQL-first user gets the operator without
    the library import."""
    load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("events_asof")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_asof")
    return spark.sql(
        """
        WITH odedup AS (
            SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS asof_orderkey
            FROM orders_asof GROUP BY o_custkey, o_orderdate
        ), tagged AS (
            SELECT event_id, user_id, ts,
                   user_id AS _k, ts AS _t, 1 AS _side,
                   CAST(NULL AS BIGINT) AS asof_orderkey
            FROM events_asof
            UNION ALL
            SELECT CAST(NULL AS BIGINT) AS event_id,
                   CAST(NULL AS BIGINT) AS user_id,
                   CAST(NULL AS TIMESTAMP) AS ts,
                   o_custkey AS _k, CAST(o_orderdate AS TIMESTAMP) AS _t,
                   0 AS _side, asof_orderkey
            FROM odedup
        ), filled AS (
            SELECT event_id, user_id, ts, _side,
                   LAST(asof_orderkey, true) OVER (
                       PARTITION BY _k ORDER BY _t, _side
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS asof_orderkey
            FROM tagged
        )
        SELECT event_id, user_id, ts, asof_orderkey
        FROM filled WHERE _side = 1
        """
    )


#: Range-join oracle shared by q_join_range (DataFrame bucketed core)
#: and q_sql_range_join (same plan through the SQL front door) — the
#: oracle states the NAIVE semantics; both Spark entries answer it with
#: the bucketed-equality plan.
_RANGE_JOIN_ORACLE = """
    SELECT e1.event_id, COUNT(e2.event_id) AS n_follow
    FROM events e1
    LEFT JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL '10 minutes'
    GROUP BY e1.event_id
    """


@query(
    "q_join_range",
    oracle=_RANGE_JOIN_ORACLE,
    tags=("join", "range", "time"),
)
def q_join_range(spark, sf_dir):
    """Range (interval) join: per event, count same-user follow-up
    events within the next 10 minutes.

    Scale path: a naive range join degenerates to a nested-loop; here
    the probe side explodes into the (≤2, deduped) 10-minute buckets
    its window overlaps and joins on (user_id, bucket) EQUALITY, with
    the range predicate as a post-filter — an ordinary shuffle join
    whose key cardinality grows with the data, so it parallelizes like
    any other equality join at 100 TB. Each match lands in exactly one
    bucket of the build side, so no dedup of pairs is needed."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return range_follow_counts(e, win_seconds=600)


def range_follow_counts(e, win_seconds: int = 600):
    """Bucketed range join core: per (event_id, user_id, ts) row, count
    same-user rows with ts in (t, t + ``win_seconds``]. The probe side
    explodes into the ≤2 deduped buckets its window overlaps and joins
    the build side on (user, bucket) EQUALITY with the range predicate
    as a post-filter — every match lands in exactly one build bucket,
    so counts need no pair dedup. The reusable core of
    :func:`q_join_range` (whose docstring carries the scale analysis)
    and the subject of the range-join property test in
    ``tests/test_operator_properties.py``."""
    win = win_seconds
    sec = F.unix_timestamp("ts")
    probe = e.withColumn(
        "_b",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor(sec / win), F.floor((sec + F.lit(win)) / win)
                )
            )
        ),
    ).alias("l")
    build = e.withColumn("_b", F.floor(sec / win)).alias("r")
    joined = probe.join(
        build,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("l._b") == F.col("r._b"))
        & (F.col("r.ts") > F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {win} SECONDS")),
        "left",
    )
    return joined.groupBy(F.col("l.event_id").alias("event_id")).agg(
        F.count(F.col("r.event_id")).alias("n_follow")
    )


@query(
    "q_sql_range_join",
    oracle=_RANGE_JOIN_ORACLE,
    tags=("sql", "join", "range", "time"),
)
def q_sql_range_join(spark, sf_dir):
    """Range (interval) join through the SQL FRONT DOOR, carrying the
    GOOD plan: the naive SQL range join (the oracle's literal text)
    degenerates to a broadcast-nested-loop at scale, so the front door
    expresses range_follow_counts' bucketed formulation instead — the
    probe side explodes into the ≤2 deduped 10-minute buckets its
    window overlaps, joins the build side on (user, bucket) EQUALITY
    with the range predicate as a post-filter, and every match lands
    in exactly one build bucket so counts need no pair dedup. Same
    oracle as q_join_range; a SQL-first user gets an ordinary shuffle
    join that parallelizes at 100 TB instead of the quadratic default."""
    load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("events_range")
    return spark.sql(
        """
        WITH probe AS (
            SELECT event_id, user_id, ts,
                   explode(array_distinct(array(
                       floor(unix_timestamp(ts) / 600),
                       floor((unix_timestamp(ts) + 600) / 600)))) AS _b
            FROM events_range
        ), build AS (
            SELECT event_id, user_id, ts,
                   floor(unix_timestamp(ts) / 600) AS _b
            FROM events_range
        )
        SELECT p.event_id,
               COUNT(CASE WHEN b.ts > p.ts
                           AND b.ts <= p.ts + INTERVAL 600 SECONDS
                          THEN b.event_id END) AS n_follow
        FROM probe p
        LEFT JOIN build b ON p.user_id = b.user_id AND p._b = b._b
        GROUP BY p.event_id
        """
    )


@query(
    "q_join_asof_forward",
    oracle="""
    WITH odedup AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS next_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.next_orderkey
    FROM events e
    ASOF LEFT JOIN odedup o
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
    tags=("join", "asof", "time"),
)
def q_join_asof_forward(spark, sf_dir):
    """Forward as-of join: each event picks the customer's NEXT order at
    or after event time (the lead-time / time-to-conversion shape).
    Same single-exchange sort-merge operator as backward, run over the
    reversed time axis (operators/asof.py direction='forward')."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("next_orderkey"))
    )
    return asof_join(
        e,
        o,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload=["next_orderkey"],
        direction="forward",
    )


@query(
    "q_gap_fill",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS n
        FROM events WHERE event_type IN ('purchase', 'signup')
        GROUP BY event_type, d
    ), spine AS (
        SELECT unnest(generate_series((SELECT MIN(d) FROM daily),
                                      (SELECT MAX(d) FROM daily),
                                      INTERVAL '1 day')) AS d
    ), types AS (SELECT DISTINCT event_type FROM daily)
    SELECT t.event_type, s.d, COALESCE(dd.n, 0) AS n
    FROM spine s CROSS JOIN types t
    LEFT JOIN daily dd ON dd.event_type = t.event_type AND dd.d = s.d
    """,
    tags=("timeseries", "gapfill"),
)
def q_gap_fill(spark, sf_dir):
    """Gap filling against a generated date spine: days with no events
    appear as explicit zero rows — the densification step before any
    moving-average / anomaly model (missing != zero only if you
    materialize the zeros). The spine bounds are derived from the
    filtered data's own min/max day (no hardcoded calendar window that
    could silently truncate if the testdata's date range changes), the
    spine is sequence()-generated from that 1-row bound (never a table
    scan), crossed with the tiny distinct-type set, and the left join is
    broadcast: the spine side is calendar-sized (a few thousand rows at
    decade scale) regardless of fact volume."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    daily = e.groupBy("event_type", F.date_trunc("DAY", "ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return densify_daily(daily, "event_type", "d", "n")


def densify_daily(daily, part_col: str, d_col: str, n_col: str):
    """Date-spine densification over a ``(partition, day, count)``
    rollup: every (partition, day) cell in [global min day, global max
    day] × distinct-partitions appears, absent cells as explicit zeros.
    The spine is sequence()-generated from a 1-row bound aggregate
    (data-derived — no hardcoded calendar; never a table scan) and both
    grid sides broadcast, so the left join is calendar-sized regardless
    of fact volume. The reusable core of :func:`q_gap_fill` and the
    subject of the coverage/zero-fill property test in
    ``tests/test_operator_properties.py``."""
    bounds = daily.agg(F.min(d_col).alias("lo"), F.max(d_col).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias(d_col)
    )
    types = daily.select(part_col).distinct()
    grid = F.broadcast(spine).crossJoin(F.broadcast(types))
    return grid.join(daily, [part_col, d_col], "left").select(
        part_col, d_col, F.coalesce(n_col, F.lit(0)).alias(n_col)
    )


@query(
    "q_stream_window_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "time"),
)
def q_stream_window_agg(spark, sf_dir):
    """Streaming twin of q_window_tumbling (O14 parity for windowed
    aggregation): the SAME window expression executed by Structured
    Streaming — file source over the events parquet, availableNow
    trigger, complete-mode memory sink — then returned as a batch
    DataFrame. Same oracle as the batch path: a PASS proves streaming
    and batch windowed aggregation agree value-for-value, driver-side
    (the pytest equivalence test covers the same property on fixture
    data). The complete-mode memory sink is the ORACLE-HARNESS
    materialization only — a production deployment uses watermark +
    append mode into a real sink so state stays bounded
    (streaming/windows.py tumbling_counts is that shape)."""
    import os
    import uuid

    # the file source needs nanos-as-long for the NANOS-typed events
    # parquet; restore the session value afterwards so a session-global
    # config is not left mutated for unrelated queries
    prior_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sink = f"stream_win_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{sf_dir}/events.parquet"
        raw_schema = spark.read.parquet(src).schema
        # per-process per-sf scratch: the symlink is created once and
        # reused across invocations in this session
        in_dir = scratch_dir(f"q_stream_window_{os.path.basename(sf_dir.rstrip(chr(47)))}")
        link = os.path.join(in_dir, "events.parquet")
        _ensure_symlink(link, src)

        s = normalize_event_ts(spark.readStream.schema(raw_schema).parquet(in_dir))
        agg = (
            s.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.sum(dec("value")).cast("double").alias("total_value"))
            .select(F.col("w.start").alias("wstart"), "event_type", "n", "total_value")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("q_stream_window_agg: stream did not finish within 300s")
        # materialize the (small) windowed aggregate locally so the
        # memory-sink view can be dropped immediately — reentrant, no
        # module-global state, nothing pinned across invocations
        result = _collect_memory_sink(spark, spark.table(sink), agg.schema)
    finally:
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
        if prior_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior_nanos)
    return result


@query(
    "q_stream_session_window",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    tags=("streaming", "window", "session"),
)
def q_stream_session_window(spark, sf_dir):
    """Session windows under REAL Structured Streaming execution — the
    one windowed-aggregation shape whose STATE actually merges as rows
    arrive (tumbling/sliding windows only accumulate; session windows
    coalesce adjacent state entries when a new event bridges two bursts,
    Spark's mergeable session state store). Streaming twin of
    q_window_session: the SAME F.session_window(30 minutes) expression
    over the streaming file source, complete-mode memory sink,
    availableNow trigger, hash-checked against the lag/cumsum batch
    oracle — a PASS proves streaming session merge is value-identical to
    batch sessionization across every user. Complete mode holds all
    session state by design here (oracle-harness materialization, like
    q_stream_window_agg); production uses watermark + append so closed
    sessions emit and their state expires
    (streaming/windows.py session_windowed_counts is that shape,
    exercised by tests/test_streaming.py)."""
    import os
    import uuid

    prior_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sink = f"stream_sess_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{sf_dir}/events.parquet"
        raw_schema = spark.read.parquet(src).schema
        in_dir = scratch_dir(
            f"q_stream_session_{os.path.basename(sf_dir.rstrip(chr(47)))}"
        )
        link = os.path.join(in_dir, "events.parquet")
        _ensure_symlink(link, src)

        s = normalize_event_ts(spark.readStream.schema(raw_schema).parquet(in_dir))
        agg = (
            s.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "q_stream_session_window: stream did not finish within 300s"
            )
        result = _collect_memory_sink(spark, spark.table(sink), agg.schema)
    finally:
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
        if prior_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior_nanos)
    return result


@query(
    "q_stream_late_drop",
    oracle="""
    WITH e AS (
        SELECT event_id % 3 AS b, event_type, ts FROM events
    ), m AS (
        SELECT b, MAX(ts) AS mx FROM e GROUP BY b
    ), wmf AS (
        SELECT m.b,
               (SELECT MAX(m2.mx) FROM m m2 WHERE m2.b <= m.b - 2)
                   - INTERVAL '10 minutes' AS w
        FROM m
    ), fw AS (
        SELECT MAX(mx) - INTERVAL '10 minutes' AS w FROM m
    ), kept AS (
        SELECT e.event_type, time_bucket(INTERVAL '5 minutes', e.ts) AS ws
        FROM e JOIN wmf ON e.b = wmf.b
        WHERE wmf.w IS NULL
           OR time_bucket(INTERVAL '5 minutes', e.ts) + INTERVAL '5 minutes' > wmf.w
    )
    SELECT ws AS wstart, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM kept, fw
    WHERE ws + INTERVAL '5 minutes' <= fw.w
    GROUP BY 1, 2
    """,
    tags=("streaming", "watermark", "late-data"),
)
def q_stream_late_drop(spark, sf_dir):
    """Watermark LATE-DATA DROPS, oracle-hash-checked (VERDICT r11
    directive #8 — previously the one streaming behavior with
    pytest-only evidence): the events table arrives as THREE
    deterministic micro-batches (event_id % 3 splits, file mtimes force
    the order, maxFilesPerTrigger=1), a 10-minute watermark guards a
    5-minute tumbling count in APPEND mode, and the oracle reproduces
    Spark's exact late-row semantics, measured on this engine build and
    pinned by tests/test_stream_late_drop.py:

    - the filter watermark LAGS one extra batch: a row in batch b is
      dropped iff its window END <= max(event ts over batches 0..b-2)
      - delay (the wm planned for batch b-1 — batches 0 and 1 drop
      nothing);
    - a window EMITS iff its end <= the final watermark (global max ts
      - delay), counting only rows that survived their batch's filter;
      both comparisons are INCLUSIVE (boundary rows probed explicitly).

    A hash PASS therefore pins the drop COUNTS, the drop boundary, the
    emission boundary, and the no-emission of unclosed windows — the
    full late-data contract. Scale: this is the memory-sink oracle
    harness over a file stream; production uses the same watermark
    expression into a durable sink where the state store holds only
    open windows (bounded by delay/window ratio), which is the entire
    point of watermarks at 100 TB."""
    import os
    import shutil
    import time as _time
    import uuid

    def build(split):
        # deterministic 3-way split (event_id % 3), one FILE per batch
        # so maxFilesPerTrigger=1 makes batch composition exact
        ev = normalize_event_ts(load_table(spark, sf_dir, "events")).select(
            "event_id", "event_type", "ts"
        )
        os.makedirs(split)
        parts = split + "_parts"
        now = _time.time()
        for b in range(3):
            part_dir = os.path.join(parts, f"part{b}")
            ev.filter(F.col("event_id") % 3 == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(part_dir)
            part = [f for f in os.listdir(part_dir) if f.startswith("part-")][0]
            dst = os.path.join(split, f"b{b}.parquet")
            shutil.copyfile(os.path.join(part_dir, part), dst)
            # mtime encodes arrival order; keep within the source's
            # maxFileAge horizon (fresh timestamps, 10s apart)
            mt = now - 30 + 10 * b
            os.utime(dst, (mt, mt))
        shutil.rmtree(parts)

    in_dir = source_split(sf_dir, "events", "q_stream_late_src", build)
    schema = spark.read.parquet(in_dir).schema
    s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )
    sink = f"late_drop_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("q_stream_late_drop: stream did not finish within 300s")
        result = _collect_memory_sink(spark, spark.table(sink), agg.schema)
    finally:
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
    return result


@query(
    "q_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    tags=("streaming", "join", "enrich"),
)
def q_stream_static_join(spark, sf_dir):
    """Stream⋈static enrichment under REAL Structured Streaming
    execution — the dimension-lookup pattern every event pipeline needs
    (enrich a click stream with the user/account dim before
    aggregating). The streaming file source replays the events parquet;
    each micro-batch joins against the BATCH customer relation via
    :func:`data_ingestor_spark.streaming.joins.enrich_with_static` with
    an explicit broadcast of the dim (no shuffle of the stream side, no
    streaming state — safe on unbounded input, which is why this shape
    scales where a stream⋈stream join needs watermarks), then a
    complete-mode windowless rollup per (segment, event type). Oracle =
    the equivalent batch join+aggregate: a PASS proves per-micro-batch
    enrichment is value-identical to batch enrichment — exactly-once
    across the replay, since a dropped or doubled micro-batch changes
    the counts. Complete-mode memory sink is the oracle-harness
    materialization only (see q_stream_window_agg); production uses
    update/append into a durable sink. Streaming twin of the batch
    `q_join_broadcast`; the library seam is covered row-for-row by
    tests/test_streaming.py::test_enrich_with_static."""
    import os
    import uuid

    prior_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sink = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{sf_dir}/events.parquet"
        raw_schema = spark.read.parquet(src).schema
        in_dir = scratch_dir(
            f"q_stream_static_join_{os.path.basename(sf_dir.rstrip(chr(47)))}"
        )
        link = os.path.join(in_dir, "events.parquet")
        _ensure_symlink(link, src)

        dim = F.broadcast(
            load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        )
        s = normalize_event_ts(spark.readStream.schema(raw_schema).parquet(in_dir))
        enriched = enrich_with_static(
            s.withColumnRenamed("user_id", "c_custkey"), dim, on="c_custkey", how="inner"
        )
        agg = enriched.groupBy("c_mktsegment", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("q_stream_static_join: stream did not finish within 300s")
        result = _collect_memory_sink(spark, spark.table(sink), agg.schema)
    finally:
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
        if prior_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior_nanos)
    return result


@query(
    "q_event_moving_avg",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS n
        FROM events GROUP BY event_type, d
    ), k AS (
        SELECT event_type, d, n,
               date_diff('day', TIMESTAMP '1970-01-01', d) AS day_num
        FROM daily
    )
    SELECT event_type, d, n,
           CAST(SUM(n) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE) AS ma7
    FROM k
    WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tags=("timeseries", "window", "movingavg"),
)
def q_event_moving_avg(spark, sf_dir):
    """7-day trailing moving average of daily event volume per type —
    the smoothing pass behind every ops dashboard and the input to the
    anomaly z-score. A RANGE frame over the day number (not ROWS: a
    missing calendar day must shrink the window, not silently widen it
    to 7 observations) — one shuffle for the daily rollup, then a
    per-type window over day-numbered rows. Exact across engines: the
    frame SUM/COUNT are integers, the average is one well-defined double
    division (never an engine AVG accumulation)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("DAY", "ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    k = daily.withColumn("day_num", F.datediff("d", F.lit("1970-01-01").cast("date")))
    return with_trailing_avg(k, "event_type", "day_num", "n", 7).select(
        "event_type", "d", "n", "ma7"
    )


def with_trailing_avg(k, part_col: str, daynum_col: str, n_col: str,
                      days: int, out_col: str = "ma7"):
    """Calendar-gap-aware trailing average: a RANGE frame over the
    integer day number spanning ``[-(days-1), 0]`` — a missing day
    SHRINKS the window (frame SUM/COUNT see only days present), never
    silently widens it to ``days`` observations the way a ROWS frame
    would — with the average as ONE double division of two exact
    integers. The reusable core of :func:`q_event_moving_avg` and the
    subject of the gap-shrink property test in
    ``tests/test_operator_properties.py``."""
    from pyspark.sql import Window as W

    w = W.partitionBy(part_col).orderBy(daynum_col).rangeBetween(-(days - 1), 0)
    return k.withColumn(
        out_col,
        F.sum(n_col).over(w).cast("double") / F.count(F.lit(1)).over(w).cast("double"),
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("streaming", "dedup", "state"),
)
def q_stream_dedup(spark, sf_dir):
    """Streaming stateful deduplication executed by Structured
    Streaming: file source over the events parquet, dropDuplicates on
    (user_id, event_type), availableNow trigger, append-mode memory
    sink. The oracle is the batch DISTINCT — a PASS proves streaming
    first-occurrence state emits exactly the batch key set (only key
    columns are projected, so which physical row arrived first cannot
    leak nondeterminism into the hash). Production shape: add a
    watermark and dropDuplicatesWithinWatermark so state stays bounded
    (streaming/stateful.py covers that operator in pytest)."""
    import os
    import uuid

    prior_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{sf_dir}/events.parquet"
        raw_schema = spark.read.parquet(src).schema
        in_dir = scratch_dir(f"q_stream_dedup_{os.path.basename(sf_dir.rstrip(chr(47)))}")
        link = os.path.join(in_dir, "events.parquet")
        _ensure_symlink(link, src)

        s = spark.readStream.schema(raw_schema).parquet(in_dir)
        deduped = s.select("user_id", "event_type").dropDuplicates(
            ["user_id", "event_type"]
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("q_stream_dedup: stream did not finish within 300s")
        result = _collect_memory_sink(spark, spark.table(sink), deduped.schema)
    finally:
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
        if prior_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior_nanos)
    return result


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT l.event_id AS l_event, r.event_id AS r_event
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'purchase' AND r.event_type = 'click'
     AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL '10 minutes'
    """,
    tags=("streaming", "join", "state"),
)
def q_stream_stream_join(spark, sf_dir):
    """Stream⋈stream windowed inner join executed by Structured
    Streaming (streaming/joins.py join_streams_windowed): purchases
    joined to the same user's clicks landing within the next 10
    minutes — the clicks-to-impressions correlation shape. Both sides
    carry watermarks so buffered state expires at production scale;
    the oracle is the identical batch interval join, so a PASS proves
    the streaming state machine emits exactly the batch pair set.
    Only (l_event, r_event) ids are projected: the match set is
    deterministic even though match *order* is not."""
    import os
    import uuid

    from data_ingestor_spark.streaming.joins import join_streams_windowed

    prior_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sink = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{sf_dir}/events.parquet"
        raw_schema = spark.read.parquet(src).schema
        in_dir = scratch_dir(f"q_stream_ssj_{os.path.basename(sf_dir.rstrip(chr(47)))}")
        link = os.path.join(in_dir, "events.parquet")
        _ensure_symlink(link, src)

        def _events_stream():
            return normalize_event_ts(spark.readStream.schema(raw_schema).parquet(in_dir))

        left = (
            _events_stream()
            .filter(F.col("event_type") == "purchase")
            .select("user_id", "ts", F.col("event_id").alias("l_event"))
        )
        right = (
            _events_stream()
            .filter(F.col("event_type") == "click")
            .select("user_id", "ts", F.col("event_id").alias("r_event"))
        )
        joined = join_streams_windowed(
            left, right, key="user_id", max_gap="10 minutes", watermark="30 minutes"
        ).select("l_event", "r_event")
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("q_stream_stream_join: stream did not finish within 300s")
        result = _collect_memory_sink(spark, spark.table(sink), joined.schema)
    finally:
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
        if prior_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior_nanos)
    return result


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    """,
    tags=("streaming", "state", "udf"),
)
def q_stream_stateful(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState) executed by
    Structured Streaming: streaming/stateful.py's per-user running
    counters over the events file source. The memory sink collects one
    row per active user per micro-batch carrying the cumulative count
    from persisted GroupState; taking MAX(total_events) per user yields
    the all-time count regardless of how availableNow splits batches —
    so the oracle is simply the batch GROUP BY count. Only the integer
    count is surfaced (the running value sum is a batch-order FP
    accumulation, pinned by pytest instead)."""
    import os
    import uuid

    from data_ingestor_spark.streaming.stateful import running_user_counters

    prior_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sink = f"stream_state_{uuid.uuid4().hex[:8]}"
    try:
        src = f"{sf_dir}/events.parquet"
        raw_schema = spark.read.parquet(src).schema
        in_dir = scratch_dir(f"q_stream_state_{os.path.basename(sf_dir.rstrip(chr(47)))}")
        link = os.path.join(in_dir, "events.parquet")
        _ensure_symlink(link, src)

        s = spark.readStream.schema(raw_schema).parquet(in_dir)
        counters = running_user_counters(s)
        q = (
            counters.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("q_stream_stateful: stream did not finish within 300s")
        emitted = spark.table(sink).groupBy("user_id").agg(
            F.max("total_events").alias("n_events")
        )
        result = _collect_memory_sink(spark, emitted, emitted.schema)
    finally:
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
        if prior_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior_nanos)
    return result


@query(
    "q_event_ewma",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS n
        FROM events GROUP BY event_type, d
    ), k AS (
        SELECT event_type, d, n,
               date_diff('day', z.d0, d) AS day_idx
        FROM daily, (SELECT MIN(date_trunc('day', ts)) AS d0 FROM events) z
    ), r AS (
        SELECT event_type, d, n,
               day_idx - MIN(day_idx) OVER (PARTITION BY event_type) AS ridx
        FROM k
    ), w AS (
        SELECT event_type, d, n, ridx,
               (CAST(1 AS BIGINT) << ridx) AS pw
        FROM r WHERE ridx < 40
    )
    SELECT event_type, d, n,
           CAST(SUM(n * pw) OVER win AS DOUBLE)
               / CAST(SUM(pw) OVER win AS DOUBLE) AS ewma
    FROM w
    WINDOW win AS (PARTITION BY event_type ORDER BY ridx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("timeseries", "window", "ewma"),
)
def q_event_ewma(spark, sf_dir):
    """Exponentially weighted moving average (α=0.5) of daily event
    volume per type — the fast-decay smoother next to q_event_moving_avg's
    boxcar. Weight of a day at calendar distance g halves per day:
    ewma_t = Σ n_i·2^(i−t) / Σ 2^(i−t); both sums are scaled by 2^t into
    EXACT integer window sums (Σ n_i·2^i and Σ 2^i over days present, so
    calendar gaps decay correctly rather than re-indexing), and the
    average is ONE double division — bit-identical across engines, no
    engine AVG, no FP accumulation. The weight exponent is REBASED per
    event_type partition (idx − min(idx) over partition, which cancels
    in the ratio, so semantics are unchanged) and hard-capped at 40 by
    an explicit filter in BOTH engines — Spark's shiftleft silently
    wraps modulo 64 while DuckDB's << does not, so without the guard a
    regenerated corpus spanning >63 days would diverge cross-engine;
    with it the invariant holds by construction at any span, and
    2^39·Σn stays far inside int64 for any test scale (shrink the 40 as
    log2(total rows/day) grows toward a real 100 TB corpus)."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("DAY", "ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    d0 = e.select(F.date_trunc("DAY", F.min("ts")).alias("d0"))
    k = daily.crossJoin(F.broadcast(d0)).withColumn(
        "day_idx", F.datediff(F.col("d").cast("date"), F.col("d0").cast("date"))
    )
    return ewma_pow2(k, "event_type", "day_idx", "n").select(
        "event_type", "d", "n", "ewma"
    )


def ewma_pow2(k, part_col: str, idx_col: str, n_col: str, cap: int = 40,
              out_col: str = "ewma"):
    """α=0.5 gap-aware EWMA over integer-indexed counts: rebase the
    index per partition (cancels in the ratio), hard-cap the exponent
    at ``cap`` (Spark's shiftleft wraps mod 64), build EXACT integer
    prefix sums Σ n·2^ridx and Σ 2^ridx, and divide once in double —
    the reusable core of :func:`q_event_ewma` (see its docstring for
    the derivation) and the subject of the gap-decay property test in
    ``tests/test_operator_properties.py``. Index values must be unique
    within a partition (calendar days are)."""
    from pyspark.sql import Window as W

    rebase = W.partitionBy(part_col)
    w = (
        k.withColumn("ridx", F.col(idx_col) - F.min(idx_col).over(rebase))
        .filter(F.col("ridx") < cap)
        .withColumn("pw", F.expr("shiftleft(1L, cast(ridx AS INT))"))
    )
    win = W.partitionBy(part_col).orderBy("ridx").rowsBetween(W.unboundedPreceding, 0)
    return w.withColumn(
        out_col,
        F.sum(F.col(n_col) * F.col("pw")).over(win).cast("double")
        / F.sum("pw").over(win).cast("double"),
    )


@query(
    "q_interval_concurrency",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sids AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    ), sess AS (
        SELECT user_id, MIN(ts) AS s, MAX(ts) + INTERVAL '30 minutes' AS en
        FROM sids GROUP BY user_id, sid
    ), pts AS (
        SELECT s AS t, 1 AS delta FROM sess
        UNION ALL
        SELECT en AS t, -1 AS delta FROM sess
    ), run AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS c
        FROM pts
    )
    SELECT date_trunc('hour', t) AS hr,
           CAST(MAX(c) AS BIGINT) AS max_concurrency,
           COUNT(*) AS n_transitions
    FROM run GROUP BY 1
    """,
    tags=("time", "interval", "sweepline", "concurrency"),
)
def q_interval_concurrency(spark, sf_dir):
    """Sweep-line concurrency timeline: how many user sessions are
    simultaneously open, reported as the per-hour maximum — the load
    curve capacity planning reads, and the classic case where the naive
    formulation (interval self-join, or one global ordered running sum)
    dies at scale. This plan is the distributed two-phase prefix sum:
    session intervals (the same 30-minute session_window as
    q_window_session) unpivot to +1/-1 endpoints; each HOUR partition
    computes its local running sum in parallel (one hash exchange keyed
    by hour); then the per-hour delta totals — one tiny row per hour,
    not per event — flow through a single ordered window to produce
    each hour's carry-in offset, and max(offset + local_max) is exact.
    Ordering ties (t, delta) puts -1 before +1 at the same instant
    (half-open intervals), and within an equal-(t,delta) tie group the
    running-sum multiset is permutation-invariant, so MAX is
    deterministic. At 100 TB: the per-point work is fully partitioned;
    the only serial state is #hours rows (a year is 8760), the standard
    prefix-sum decomposition onto Spark windows. Exact integers
    throughout -> bit-stable hash. Semantics note: per-hour max is over
    post-transition levels within that hour; hours with no endpoints
    carry no row (downstream gap-fill, q_gap_fill, densifies if
    needed)."""
    e = load_table(spark, sf_dir, "events")
    sess = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("en"))
    )
    return concurrency_timeline(sess)


def concurrency_timeline(sess: DataFrame) -> DataFrame:
    """Distributed two-phase sweep-line over ``(s, en)`` intervals →
    per-hour ``(hr, max_concurrency, n_transitions)``; the reusable
    core of :func:`q_interval_concurrency` (see its docstring for the
    full derivation) and the subject of the brute-force property test
    in ``tests/test_operator_properties.py``."""
    from pyspark.sql import Window as W

    # one inline explode, NOT a union of two selects over `sess` — a
    # union would execute the upstream (session) subtree twice
    pts = sess.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("en").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("p")
    ).select(
        F.col("p.t").alias("t"),
        F.col("p.delta").alias("delta"),
        F.date_trunc("hour", F.col("p.t")).alias("hr"),
    )
    wloc = W.partitionBy("hr").orderBy("t", "delta").rowsBetween(
        W.unboundedPreceding, 0
    )
    loc = pts.withColumn("c_loc", F.sum("delta").over(wloc))
    hr_stats = loc.groupBy("hr").agg(
        F.max("c_loc").alias("max_loc"),
        F.count(F.lit(1)).alias("n_transitions"),
        F.sum("delta").alias("tot"),
    )
    woff = W.orderBy("hr").rowsBetween(W.unboundedPreceding, -1)
    return (
        hr_stats.withColumn(
            "offset", F.coalesce(F.sum("tot").over(woff), F.lit(0))
        )
        .select(
            "hr",
            (F.col("offset") + F.col("max_loc")).cast("bigint").alias("max_concurrency"),
            "n_transitions",
        )
    )


@query(
    "q_agg_rollup_cascade",
    oracle="""
    SELECT event_type, date_trunc('week', ts) AS w,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                // COUNT(*) AS BIGINT) AS mean_cents,
           MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_cents,
           MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_cents
    FROM events GROUP BY 1, 2
    """,
    tags=("agg", "rollup", "cascade", "time", "continuous-aggregate"),
)
def q_agg_rollup_cascade(spark, sf_dir):
    """Multi-resolution rollup cascade (continuous-aggregate /
    hypertable pattern): hourly partial aggregates roll into daily,
    daily into weekly — each level re-aggregates ONLY the level below,
    never the raw events. The oracle computes weekly directly from
    raw, so a PASS proves cascade ≡ direct through two merge hops,
    which is the contract that lets a 100 TB event store serve any
    granularity from stored partials at delta cost (the same
    merge ≡ recompute guarantee as q_agg_incremental, extended to a
    granularity hierarchy). State discipline: every statistic carried
    between levels is mergeable — COUNT → SUM, SUM → SUM, MIN → MIN,
    MAX → MAX — and the non-mergeable MEAN is derived at read time
    from (sum, count) by exact integer division; values quantize to
    cents so sums are associative. At 100 TB: the hourly level is the
    only raw-data shuffle; each further level aggregates ~24× fewer
    rows, and in production each level is a stored table maintained
    incrementally."""
    e = load_table(spark, sf_dir, "events")
    return rollup_cascade(e, "event_type", "ts", "value")


def rollup_cascade(e, key_col: str, ts_col: str, value_col: str):
    """Hour→day→week mergeable-partials cascade → weekly
    (n, total/mean/min/max cents) per key, mean derived at read time
    by exact integer division — the reusable core of
    :func:`q_agg_rollup_cascade` (see its docstring for the
    cascade ≡ direct contract) and the subject of the merge-hop
    property test in ``tests/test_operator_properties.py``."""
    # try_cast: a NaN/±inf metric row must quantize to NULL (skipped by
    # the aggregates, like SQL NULL) — under ANSI a plain cast is a job
    # failure on the first corrupt row of a real corpus
    cents = F.expr(f"try_cast(round({value_col} * 100) as bigint)")
    hourly = e.groupBy(
        key_col, F.date_trunc("hour", ts_col).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.min(cents).alias("mn"),
        F.max(cents).alias("mx"),
    )
    return cascade_hourly(hourly, key_col)


def cascade_hourly(hourly, key_col: str):
    """Hourly partials (key, h, n, s, mn, mx) → daily → weekly, with
    the read-time mean: the merge hops of :func:`rollup_cascade`, also
    applied to the streamed hourly state of q_stream_rollup_maintain."""
    daily = hourly.groupBy(
        key_col, F.date_trunc("day", "h").alias("d")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    weekly = daily.groupBy(
        key_col, F.date_trunc("week", "d").alias("w")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    return weekly.select(
        key_col,
        "w",
        F.col("n").cast("bigint").alias("n"),
        F.col("s").cast("bigint").alias("total_cents"),
        F.expr("s div n").cast("bigint").alias("mean_cents"),
        F.col("mn").cast("bigint").alias("min_cents"),
        F.col("mx").cast("bigint").alias("max_cents"),
    )


@query(
    "q_stream_rollup_maintain",
    oracle="""
    SELECT event_type, date_trunc('week', ts) AS w,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                // COUNT(*) AS BIGINT) AS mean_cents,
           MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_cents,
           MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_cents
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "rollup", "incremental", "continuous-aggregate"),
)
def q_stream_rollup_maintain(spark, sf_dir):
    """Streaming continuous-aggregate maintenance — the INCREMENTAL
    twin of q_agg_rollup_cascade, executed by Structured Streaming:
    the events table arrives as multiple micro-batches (file source,
    maxFilesPerTrigger=1 over a 4-way split) and
    :func:`maintain_hourly_rollup` keeps the HOURLY aggregate in the
    query's state store, republishing it after every batch. The
    returned result rolls the final hourly state up to weekly; the
    oracle computes weekly DIRECTLY from raw events, so a PASS proves
    batch-arrival order + per-batch state update + cascade
    re-aggregation ≡ one-shot recompute — the full contract of a
    production continuous aggregate (TimescaleDB/Materialize shape) on
    a lake. The update is order-independent BECAUSE every carried
    statistic is mergeable (COUNT/SUM/MIN/MAX; mean derived at read
    time), which is exactly why the availableNow file order doesn't
    matter. At 100 TB: each micro-batch shuffles only its own delta
    into a state store at hourly-grain cardinality."""
    import os
    import uuid

    prior_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        # 4-way split of the source so availableNow delivers multiple
        # micro-batches (a single file would be one batch)
        in_dir = source_split(
            sf_dir,
            "events",
            "q_stream_rollup_src",
            lambda split: spark.read.parquet(f"{sf_dir}/events.parquet")
            .repartition(4)
            .write.parquet(split),
        )
        root = os.path.join(
            scratch_dir(f"q_stream_rollup_state_{os.path.basename(sf_dir.rstrip(chr(47)))}"),
            uuid.uuid4().hex[:8],
        )
        q = maintain_hourly_rollup(spark, in_dir, root)
        assert len({p["batchId"] for p in q.recentProgress}) >= 2, (
            "expected multiple incremental merges"
        )
        return cascade_hourly(spark.read.parquet(f"{root}/hourly"), "event_type")
    finally:
        if prior_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior_nanos)


def maintain_hourly_rollup(spark, in_dir, root):
    """Drain the events parquet files under ``in_dir`` (one file per
    micro-batch) into the hourly continuous aggregate
    ``<root>/hourly`` — COUNT/SUM/MIN/MAX of the value in cents per
    (event_type, hour) — and return the finished query.

    The aggregate's state lives in the state store of the query
    checkpoint ``<root>/_checkpoint``; after each batch the complete
    state is published with :func:`sinks.publish_parquet_atomic`, so a
    reader never sees a partial aggregate. Exactly-once comes from the
    checkpoint: a batch replayed after a crash (sink ran, commit log
    not yet written) recomputes the same state version from the
    previous one and republishes identical rows, and a restart over a
    finished checkpoint runs no batch at all. Resetting the checkpoint
    resets the state with it, so the state can never run ahead of the
    batch ids."""
    from data_ingestor_spark.sinks import publish_parquet_atomic
    from data_ingestor_spark.streaming import write_stream_batches

    cents = F.expr("try_cast(round(value * 100) as bigint)")
    hourly = (
        spark.readStream.schema(spark.read.parquet(in_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .transform(normalize_event_ts)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s"),
            F.min(cents).alias("mn"),
            F.max(cents).alias("mx"),
        )
    )
    q = write_stream_batches(
        hourly,
        f"{root}/_checkpoint",
        lambda batch, _: publish_parquet_atomic(batch, f"{root}/hourly"),
        output_mode="complete",
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("maintain_hourly_rollup: stream did not finish in 300s")
    return q


@query(
    "q_join_asof_nearest",
    oracle="""
    WITH odedup AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS okey
        FROM orders GROUP BY o_custkey, o_orderdate
    ), past AS (
        SELECT e.event_id, e.user_id, e.ts, o.okey AS pk, o.o_orderdate AS pd
        FROM events e
        ASOF LEFT JOIN odedup o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ), fut AS (
        SELECT e.event_id, o.okey AS fk, o.o_orderdate AS fd
        FROM events e
        ASOF LEFT JOIN odedup o
          ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    )
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN pk IS NULL THEN fk
                WHEN fk IS NULL THEN pk
                WHEN epoch_us(p.ts) - epoch_us(pd) <= epoch_us(fd) - epoch_us(p.ts)
                    THEN pk ELSE fk END AS nearest_orderkey,
           CASE WHEN pk IS NULL AND fk IS NULL THEN NULL
                WHEN fk IS NULL THEN 'past'
                WHEN pk IS NULL THEN 'future'
                WHEN epoch_us(p.ts) - epoch_us(pd) <= epoch_us(fd) - epoch_us(p.ts)
                    THEN 'past' ELSE 'future' END AS direction
    FROM past p JOIN fut f ON p.event_id = f.event_id
    """,
    tags=("join", "asof", "nearest", "time"),
)
def q_join_asof_nearest(spark, sf_dir):
    """Nearest-in-time as-of join (bidirectional): each event picks the
    customer's temporally CLOSEST order, past or future — the sensor-
    fusion / record-alignment variant that neither backward nor forward
    as-of alone answers (backward biases stale matches near gaps,
    forward biases future leakage; nearest is what 'align these two
    streams' usually means). Composition of the engine's two as-of
    directions (operators/asof.py, one exchange each) + an exact
    integer microsecond delta compare; ties (equidistant, including a
    delta-0 order AT the event time) resolve to 'past' so the choice
    is deterministic — and the right side is deduped to one row per
    (key, time) first, the same determinism discipline as
    q_join_asof. At 100 TB: two sort-merge as-of passes over the same
    (key, time) partitioning plus one id-keyed rejoin — no range or
    nested-loop join anywhere."""
    from data_ingestor_spark.operators.asof import asof_join_nearest

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("okey"))
    )
    # o_orderdate reads as TIMESTAMP_NTZ; the helper casts both match
    # times to session-tz TIMESTAMP (UTC session, instant unchanged)
    # for its exact integer-microsecond deltas
    near = asof_join_nearest(
        e, o,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload=["okey"],
        id_col="event_id",
    )
    return near.select(
        "event_id",
        "user_id",
        "ts",
        F.col("okey").alias("nearest_orderkey"),
        "direction",
    )


@query(
    "q_window_ohlc",
    oracle="""
    WITH pts AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_open,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_close
        FROM events
    )
    SELECT event_type, bucket,
           CAST(MAX(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT) AS open_cents,
           MAX(cents) AS high_cents,
           MIN(cents) AS low_cents,
           CAST(MAX(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT) AS close_cents,
           COUNT(*) AS n_ticks
    FROM pts GROUP BY event_type, bucket
    """,
    tags=("window", "time", "ohlc", "resample"),
)
def q_window_ohlc(spark, sf_dir):
    """OHLC resampling — the financial-tick aggregation shape: per
    (type, hour) bar, the OPEN (first value by time), HIGH, LOW, CLOSE
    (last value by time) and tick count. High/low/count are ordinary
    mergeable aggregates; open/close are order statistics, pinned
    deterministically by (ts, event_id)-tie-broken row_number windows
    and folded into the same groupBy as conditional MAXes — one window
    pass + one aggregate, both partitioned by the bar key, so the plan
    is two stages that share the (type, bucket) exchange. Values in
    exact cents → bit-stable hash. At 100 TB: the bar key is exactly
    how tick stores partition, so the window sees only local data; for
    first/last WITHOUT a full window sort, Spark's min_by/max_by over
    a composite (time, id) key is the single-agg alternative — the
    window form here is chosen because it hash-matches any engine's
    semantics without composite-key encoding."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket"),
        F.expr("try_cast(round(value * 100) as bigint)").alias("cents"),
        "ts",
        "event_id",
    )
    return ohlc_bars(base, ["event_type", "bucket"], "cents", "ts", "event_id")


def ohlc_bars(base, key_cols, value_col: str, time_col: str, tiebreak_col: str):
    """OHLC bar aggregation over ``(keys…, value, time, tiebreak)``
    rows → per-key ``(open/high/low/close, n_ticks)`` with open/close
    pinned by (time, tiebreak)-ordered row_number windows; the
    reusable core of :func:`q_window_ohlc` (see its docstring for the
    plan-shape discussion) and the subject of the brute-force property
    test in ``tests/test_operator_properties.py``."""
    from pyspark.sql import Window as W

    wkey = W.partitionBy(*key_cols)
    rn_open = F.row_number().over(wkey.orderBy(time_col, tiebreak_col))
    rn_close = F.row_number().over(
        wkey.orderBy(F.desc(time_col), F.desc(tiebreak_col))
    )
    pts = base.withColumn("rn_open", rn_open).withColumn("rn_close", rn_close)
    return pts.groupBy(*key_cols).agg(
        F.max(F.when(F.col("rn_open") == 1, F.col(value_col)))
        .cast("bigint")
        .alias("open_cents"),
        F.max(value_col).alias("high_cents"),
        F.min(value_col).alias("low_cents"),
        F.max(F.when(F.col("rn_close") == 1, F.col(value_col)))
        .cast("bigint")
        .alias("close_cents"),
        F.count(F.lit(1)).alias("n_ticks"),
    )
