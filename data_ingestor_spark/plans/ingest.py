"""Ingestion queries: the reference's core pipeline (scan → flatten →
whitelist-project) as declared, oracle-checked queries over the repo's
own fixtures (same shapes as the reference's manual fixtures, plus the
edge cases SURVEY §2.3(a) calls out: empty and missing nested arrays).

Reference parity: O1-O5 (scans), O7/O8 (flatten), O9 (projection) —
``fileloader/fileloader-schema.go:25-510``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestor_spark.operators.flatten import flatten_nested
from data_ingestor_spark.schemas import MIST_NESTED_SCHEMA, TEMPLATE_COLUMNS
from data_ingestor_spark.sources import load
from data_ingestor_spark.plans.registry import load_table, query, scratch_dir

_FIXDIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "tests", "fixtures")
_JSON_FIXTURE = os.path.join(_FIXDIR, "ingest-records.json")
_XML_FIXTURE = os.path.join(_FIXDIR, "ingest-records.xml")

_JSON_ORACLE = f"""
WITH recs AS (
    SELECT unnest(Records) AS rec
    FROM read_json('{_JSON_FIXTURE}',
        columns={{Records: 'STRUCT("user" VARCHAR, dt_created BIGINT, dt_submitted BIGINT,
                  ast_name VARCHAR, location VARCHAR, status VARCHAR, json_hash VARCHAR,
                  local_id VARCHAR, filename VARCHAR,
                  fnumbers STRUCT(fnumber VARCHAR, scan_time VARCHAR)[])[]'}})
), base AS (
    SELECT rec."user" AS "user", rec.dt_created, rec.dt_submitted, rec.ast_name,
           rec.location, rec.status, rec.json_hash, rec.local_id, rec.filename,
           CASE WHEN rec.fnumbers IS NULL OR len(rec.fnumbers) = 0
                THEN [CAST(NULL AS STRUCT(fnumber VARCHAR, scan_time VARCHAR))]
                ELSE rec.fnumbers END AS fns
    FROM recs
)
SELECT "user", dt_created, dt_submitted, ast_name, location, status,
       json_hash, local_id, filename, f.fnumber, f.scan_time
FROM (SELECT *, unnest(fns) AS f FROM base)
"""


@query("q_ingest_json", oracle=_JSON_ORACLE, tags=("ingest",))
def q_ingest_json(spark, sf_dir):
    """JSON document → records under 'Records' → flatten fnumbers →
    11-column whitelist (the reference's full live path, O3+O7+O9).
    Expected: 7×2 + 1×1 + empty-array row + missing-array row = 17."""
    raw = load(spark, _JSON_FIXTURE, schema=MIST_NESTED_SCHEMA)
    return flatten_nested(raw, "fnumbers", TEMPLATE_COLUMNS)


_XML_GOLDEN_ORACLE = """
SELECT * FROM (VALUES
  ('alice', 1700000001, 1700000101, 'asset-a', 'HQ',      'Pending',  'h001', 'L-1', 'ingest-records.xml', 'F100', '2023-11-14T22:13:21Z'),
  ('alice', 1700000001, 1700000101, 'asset-a', 'HQ',      'Pending',  'h001', 'L-1', 'ingest-records.xml', 'F101', '2023-11-14T22:14:21Z'),
  ('bob',   1700000002, 1700000102, 'asset-b', 'Branch1', 'Approved', 'h002', 'L-2', 'ingest-records.xml', 'F102', '2023-11-14T22:15:21Z'),
  ('bob',   1700000002, 1700000102, 'asset-b', 'Branch1', 'Approved', 'h002', 'L-2', 'ingest-records.xml', 'F103', '2023-11-14T22:16:21Z'),
  ('carol', 1700000003, 1700000103, NULL,      'Branch2', 'Rejected', 'h003', 'L-3', 'ingest-records.xml', 'F104', '2023-11-14T22:17:21Z'),
  ('carol', 1700000003, 1700000103, NULL,      'Branch2', 'Rejected', 'h003', 'L-3', 'ingest-records.xml', 'F105', '2023-11-14T22:18:21Z'),
  ('dave',  1700000004, 1700000104, 'asset-d', 'Branch3', 'Pending',  'h004', NULL,  'ingest-records.xml', 'F106', '2023-11-14T22:19:21Z'),
  ('dave',  1700000004, 1700000104, 'asset-d', 'Branch3', 'Pending',  'h004', NULL,  'ingest-records.xml', 'F107', '2023-11-14T22:20:21Z'),
  ('erin',  1700000005, 1700000105, 'asset-e', 'HQ',      'Approved', 'h005', 'L-5', 'ingest-records.xml', 'F108', '2023-11-14T22:21:21Z'),
  ('erin',  1700000005, 1700000105, 'asset-e', 'HQ',      'Approved', 'h005', 'L-5', 'ingest-records.xml', 'F109', '2023-11-14T22:22:21Z'),
  ('frank', 1700000006, 1700000106, 'asset-f', 'Branch4', 'Pending',  'h006', 'L-6', 'ingest-records.xml', 'F110', '2023-11-14T22:23:21Z'),
  ('frank', 1700000006, 1700000106, 'asset-f', 'Branch4', 'Pending',  'h006', 'L-6', 'ingest-records.xml', 'F111', '2023-11-14T22:24:21Z'),
  ('grace', 1700000007, 1700000107, 'asset-g', 'Branch5', 'Approved', 'h007', 'L-7', 'ingest-records.xml', 'F112', '2023-11-14T22:25:21Z'),
  ('heidi', 1700000008, 1700000108, 'asset-h', 'HQ',      'Rejected', 'h008', 'L-8', 'ingest-records.xml', NULL,   NULL)
) AS t("user", dt_created, dt_submitted, ast_name, location, status,
       json_hash, local_id, filename, fnumber, scan_time)
"""


@query("q_ingest_xml", oracle=_XML_GOLDEN_ORACLE, tags=("ingest",))
def q_ingest_xml(spark, sf_dir):
    """XML → <Record> rows → flatten repeated <fnumbers> groups →
    whitelist (O1+O8+O9). DuckDB has no XML reader, so the oracle is
    the fixture's expected output as golden literal rows (hand-derived
    from ingest-records.xml) — a full value-hash check of the XML parse
    + flatten path, strictly stronger than the previous rows-only
    check. Row contract: 6×2 + 1 + 1 = 14."""
    raw = load(spark, _XML_FIXTURE, schema=MIST_NESTED_SCHEMA)
    return flatten_nested(raw, "fnumbers", TEMPLATE_COLUMNS)


@query(
    "q_ingest_flatten_agg",
    oracle=f"""
    WITH recs AS (
        SELECT unnest(Records) AS rec
        FROM read_json('{_JSON_FIXTURE}',
            columns={{Records: 'STRUCT("user" VARCHAR, dt_created BIGINT, dt_submitted BIGINT,
                      ast_name VARCHAR, location VARCHAR, status VARCHAR, json_hash VARCHAR,
                      local_id VARCHAR, filename VARCHAR,
                      fnumbers STRUCT(fnumber VARCHAR, scan_time VARCHAR)[])[]'}})
    ), base AS (
        SELECT rec.location, rec.status,
               CASE WHEN rec.fnumbers IS NULL OR len(rec.fnumbers) = 0
                    THEN [CAST(NULL AS STRUCT(fnumber VARCHAR, scan_time VARCHAR))]
                    ELSE rec.fnumbers END AS fns
        FROM recs
    )
    SELECT location, COUNT(*) AS n_rows, COUNT(f.fnumber) AS n_fnumbers
    FROM (SELECT *, unnest(fns) AS f FROM base)
    GROUP BY location
    """,
    tags=("ingest", "agg"),
)
def q_ingest_flatten_agg(spark, sf_dir):
    """Ingest → flatten → aggregate in one plan (the M1 'one real query'):
    row and non-null fnumber counts per location."""
    raw = load(spark, _JSON_FIXTURE, schema=MIST_NESTED_SCHEMA)
    flat = flatten_nested(raw, "fnumbers", TEMPLATE_COLUMNS)
    return flat.groupBy("location").agg(
        F.count("*").alias("n_rows"), F.count("fnumber").alias("n_fnumbers")
    )


@query(
    "q_scan_csv",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("ingest", "scan", "csv"),
)
def q_scan_csv(spark, sf_dir):
    """CSV source path: lineitem → distributed CSV write → schema-driven
    CSV read → aggregate. The oracle aggregates the parquet original, so
    a PASS proves the CSV writer/reader roundtrip is lossless (doubles
    survive via shortest-repr text) AND the scan aggregates correctly."""
    from data_ingestor_spark.sources import load as src_load

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    # per-process per-sf scratch (mode=overwrite): repeated runs in one
    # session reuse the dir instead of accumulating a CSV copy per
    # invocation, while concurrent sessions never share a path
    csv_dir = os.path.join(
        scratch_dir(f"q_scan_csv_{os.path.basename(sf_dir.rstrip(chr(47)))}"), "lineitem_csv"
    )
    li.write.option("header", "true").mode("overwrite").csv(csv_dir)
    back = src_load(
        spark,
        csv_dir,
        fmt="csv",
        schema=li.schema,
    )
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


def _drain_stream_ingest(spark, name, stage, schema, **load_kw):
    """The harness of the ``q_stream_ingest*`` keys: ``stage(in_dir)``
    fills a fresh watched directory, :func:`streaming.stream_load`
    (``schema`` and ``load_kw``) scans it under Structured Streaming,
    a checkpointed foreachBatch appends every micro-batch to parquet
    staging, and the staging is read back as a batch DataFrame. The
    work dir is a fresh per-call directory under :func:`scratch_dir`,
    so a rerun never resumes an earlier run's checkpoint."""
    import uuid

    from data_ingestor_spark.streaming import await_streams, stream_load, write_stream_batches

    work = os.path.join(scratch_dir(name), uuid.uuid4().hex[:8])
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    stage(in_dir)
    flat = stream_load(spark, in_dir, schema, **load_kw)
    q = write_stream_batches(
        flat,
        os.path.join(work, "ckpt"),
        lambda df, bid: df.write.mode("append").parquet(out_dir),
    )
    await_streams(name, q)
    return spark.read.schema(flat.schema).parquet(out_dir)


def _copy_fixture(path):
    """``stage`` for :func:`_drain_stream_ingest`: the watched directory
    holds one copy of the fixture file ``path``."""

    def stage(in_dir):
        os.makedirs(in_dir)
        shutil.copy(path, in_dir)

    return stage


@query("q_stream_ingest", oracle=_JSON_ORACLE, tags=("streaming", "ingest"))
def q_stream_ingest(spark, sf_dir):
    """Streaming twin of q_ingest_json (O14 parity): the SAME
    scan→flatten→project plan executed by Structured Streaming — file
    source, availableNow trigger, checkpointed foreachBatch — drained
    into a temp parquet staging dir and returned as a batch DataFrame.
    Same oracle as the batch path: streaming and batch must agree row
    for row."""
    return _drain_stream_ingest(
        spark,
        "q_stream_ingest",
        _copy_fixture(_JSON_FIXTURE),
        MIST_NESTED_SCHEMA,
        columns=TEMPLATE_COLUMNS,
    )


@query("q_stream_ingest_xml", oracle=_XML_GOLDEN_ORACLE, tags=("streaming", "ingest"))
def q_stream_ingest_xml(spark, sf_dir):
    """Streaming twin of q_ingest_xml (the reference's FLAGSHIP live
    path streams XML — fileloader-schema.go:142-197 feeding
    mapreduce.go:54-105): the same scan→flatten→project plan under
    Structured Streaming via stream_load(fmt="xml"), drained through a
    checkpointed foreachBatch into parquet staging and returned as a
    batch DataFrame. Same golden-literal oracle as the batch XML path:
    streaming and batch must agree row for row."""
    return _drain_stream_ingest(
        spark,
        "q_stream_ingest_xml",
        _copy_fixture(_XML_FIXTURE),
        MIST_NESTED_SCHEMA,
        columns=TEMPLATE_COLUMNS,
        fmt="xml",
    )


@query(
    "q_stream_ingest_csv",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("streaming", "ingest", "csv"),
)
def q_stream_ingest_csv(spark, sf_dir):
    """Streaming twin of q_scan_csv, completing the live-ingest trio
    (JSON q_stream_ingest, XML q_stream_ingest_xml): lineitem →
    distributed CSV write → stream_load(fmt="csv") typed scan under
    Structured Streaming → checkpointed foreachBatch → aggregate. The
    oracle aggregates the parquet original, so a PASS proves the
    streaming CSV scan is lossless AND exactly-once (every line lands
    exactly once — a dropped or doubled micro-batch changes the
    counts)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    back = _drain_stream_ingest(
        spark,
        "q_stream_ingest_csv",
        lambda in_dir: li.write.option("header", "true").csv(in_dir),
        li.schema,
        fmt="csv",
    )
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


_DEEP_FIXTURE = os.path.join(_FIXDIR, "ingest-nested-deep.json")

_DEEP_SCHEMA_SPARK = (
    "order_id bigint, buyer struct<name:string, tier:string>, "
    "shipments array<struct<ship_id:string, parcels:array<struct<sku:string, qty:bigint>>>>"
)


@query(
    "q_flatten_deep",
    oracle=f"""
    WITH recs AS (
        SELECT unnest(Records) AS r
        FROM read_json('{_DEEP_FIXTURE}', columns={{Records:
            'STRUCT(order_id BIGINT, buyer STRUCT(name VARCHAR, tier VARCHAR),
                    shipments STRUCT(ship_id VARCHAR,
                                     parcels STRUCT(sku VARCHAR, qty BIGINT)[])[])[]'}})
    ), lvl1 AS (
        SELECT r.order_id, r.buyer.name AS buyer_name, r.buyer.tier AS buyer_tier,
               CASE WHEN r.shipments IS NULL OR len(r.shipments) = 0
                    THEN [CAST(NULL AS STRUCT(ship_id VARCHAR, parcels STRUCT(sku VARCHAR, qty BIGINT)[]))]
                    ELSE r.shipments END AS ships
        FROM recs
    ), lvl1x AS (
        SELECT order_id, buyer_name, buyer_tier, unnest(ships) AS s FROM lvl1
    ), lvl2 AS (
        SELECT order_id, buyer_name, buyer_tier, s.ship_id AS shipments_ship_id,
               CASE WHEN s.parcels IS NULL OR len(s.parcels) = 0
                    THEN [CAST(NULL AS STRUCT(sku VARCHAR, qty BIGINT))]
                    ELSE s.parcels END AS parcels
        FROM lvl1x
    )
    SELECT order_id, buyer_name, buyer_tier, shipments_ship_id,
           p.sku AS shipments_parcels_sku, p.qty AS shipments_parcels_qty
    FROM (SELECT *, unnest(parcels) AS p FROM lvl2)
    """,
    tags=("ingest", "flatten", "nested"),
)
def q_flatten_deep(spark, sf_dir):
    """Arbitrary-depth flatten (operators.flatten.flatten_all): structs
    inline as parent_child columns, nested arrays-of-struct explode
    level by level with §2.3(a) row survival (empty shipments → one
    null-shipment row; empty parcels → one null-parcel row). Expected:
    order 1 → 3 parcel rows, order 2 → 1 (null parcels), order 3 → 1
    (null shipment), order 4 → 3; total 8."""
    raw = load(spark, _DEEP_FIXTURE, schema=T._parse_datatype_string(_DEEP_SCHEMA_SPARK))
    from data_ingestor_spark.operators.flatten import flatten_all

    return flatten_all(raw)


_ORC_FIXTURE = os.path.join(_FIXDIR, "scan-fixture.orc")


@query(
    "q_scan_orc",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'alpha', 10.5),
        (2, 'beta',  CAST(NULL AS DOUBLE)),
        (3, 'gamma', 7.25),
        (4, CAST(NULL AS VARCHAR), 0.0)
    ) AS t(id, name, score)
    """,
    tags=("ingest", "orc"),
)
def q_scan_orc(spark, sf_dir):
    """ORC columnar scan (source dispatch ``fmt='orc'``): the other
    big-data columnar format the engine reads natively alongside
    parquet. DuckDB has no ORC reader, so the oracle is the fixture's
    known contents as golden literal rows — a full value-hash check of
    the ORC decode path including NULLs in both a string and a double
    column."""
    from data_ingestor_spark.sources import load

    return load(spark, _ORC_FIXTURE, fmt="orc")


@query(
    "q_partitioned_scan",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE event_type IN ('click', 'error')
    GROUP BY event_type
    """,
    tags=("ingest", "partitioned", "pruning"),
)
def q_partitioned_scan(spark, sf_dir):
    """Hive-style partitioned layout round-trip: events written
    partitionBy(event_type) to a temp dir, read back with a partition
    filter, aggregated. The filter prunes at the DIRECTORY level — the
    non-selected partitions' files are never opened (the layout every
    100 TB warehouse uses for its coarse access dimension). The oracle
    aggregates the original table directly, so a PASS proves the
    partitioned writer/reader round-trip is lossless AND the pruned
    scan still sees every row of the selected partitions."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # per-process per-sf scratch (mode=overwrite), same rationale as q_scan_csv
    out = os.path.join(
        scratch_dir(f"q_part_scan_{os.path.basename(sf_dir.rstrip(chr(47)))}"), "events_part"
    )
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type").isin("click", "error"))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


@query(
    "q_scan_custom_source",
    oracle="""
    SELECT 'User' || CAST(i + 1 AS VARCHAR) AS "user",
           1700000000 + i AS dt_created,
           1700000100 + i AS dt_submitted,
           CASE WHEN i % 2 = 0 THEN 'asset-' || CAST(i + 1 AS VARCHAR) END AS ast_name,
           'Location' || CAST(i % 5 AS VARCHAR) AS location,
           ['Pending','Approved','Rejected'][CAST(i % 3 AS INT) + 1] AS status,
           md5(CAST(i AS VARCHAR)) AS json_hash,
           CASE WHEN i % 3 <> 0 THEN 'L-' || CAST(i + 1 AS VARCHAR) END AS local_id,
           'generated.json' AS filename,
           'F' || CAST(i + 1 AS VARCHAR) || '-0@'
             || strftime(make_timestamp((1700000000 + i * 60) * 1000000), '%Y-%m-%dT%H:%M:%SZ')
             || '|F' || CAST(i + 1 AS VARCHAR) || '-1@'
             || strftime(make_timestamp((1700000000 + i * 60 + 30) * 1000000), '%Y-%m-%dT%H:%M:%SZ')
             AS fnumbers_str
    FROM range(0, 60) t(i)
    """,
    tags=("ingest", "source", "datasource"),
)
def q_scan_custom_source(spark, sf_dir):
    """Spark 4 custom Python DataSource (O21 as a first-class source):
    ``format("ingestor_samples")`` generates the reference's
    deterministic sample records with distributed range partitions —
    schema discovery, option handling, and partition planning all flow
    through the DataSource API exactly as they would for an external
    system connector. The oracle regenerates the identical records from
    DuckDB's range(); nested fnumbers are canonicalized to one
    'fnumber@scan_time|…' string per row for hashing."""
    from data_ingestor_spark.sources.sample_source import register

    register(spark)
    df = (
        spark.read.format("ingestor_samples")
        .option("count", 60)
        .option("numPartitions", 4)
        .load()
    )
    fstr = F.array_join(
        F.expr("transform(fnumbers, f -> concat(f.fnumber, '@', f.scan_time))"), "|"
    )
    return df.select(
        "user", "dt_created", "dt_submitted", "ast_name", "location",
        "status", "json_hash", "local_id", "filename", fstr.alias("fnumbers_str"),
    )


@query(
    "q_scan_jsonl",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
    tags=("ingest", "scan", "json"),
)
def q_scan_jsonl(spark, sf_dir):
    """JSON-lines source path: events → distributed JSONL write →
    schema-driven JSONL read → aggregate. The oracle aggregates the
    parquet original, so a PASS proves the JSONL writer/reader roundtrip
    is lossless (doubles survive shortest-repr text; timestamps are not
    exercised — the aggregate keys on string/double columns, the
    format's weak spot). Completes the format matrix next to
    q_scan_csv / q_scan_orc / q_partitioned_scan."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = os.path.join(
        scratch_dir(f"q_scan_jsonl_{os.path.basename(sf_dir.rstrip(chr(47)))}"), "events_jsonl"
    )
    e.write.mode("overwrite").json(out)
    back = spark.read.schema(e.schema).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        # try_cast like registry.dec(): out-of-range doubles -> NULL,
        # not a job failure (registry totality gate)
        F.sum(F.expr("try_cast(value as decimal(18,2))"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "q_scan_binaryfile",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5
    FROM documents
    """,
    tags=("ingest", "binary", "multimodal"),
)
def q_scan_binaryfile(spark, sf_dir):
    """``binaryFile`` datasource scan — THE ingest path for raw
    image/audio/video blobs at 100 TB: point Spark at a blob store
    prefix and every file arrives as one row of (path, length, content)
    with files split across tasks by the source. The harness first
    materializes each document's payload as `<doc_id>.bin` (driver-side
    writer, test-scale only — production blobs already exist); the scan,
    the path→id parse, and the JVM-side md5 are the production plan.
    modificationTime is deliberately NOT projected (nondeterministic)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = scratch_dir(f"q_scan_binfile_{os.path.basename(sf_dir.rstrip(chr(47)))}")
    marker = os.path.join(out, "_written")
    if not os.path.exists(marker):
        for row in d.collect():  # harness materialization: N≈500 small files
            with open(os.path.join(out, f"{row['doc_id']}.bin"), "wb") as fh:
                # NULL text → empty blob: a blob store has no NULL files,
                # and the writer must not crash on one corrupt row
                fh.write((row["text"] or "").encode("utf-8"))
        with open(marker, "w") as fh:
            fh.write("ok")
    back = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
    return back.select(
        F.regexp_extract("path", r"(\d+)\.bin$", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@query(
    "q_scan_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_dec,
           CAST(NULL AS VARCHAR) AS batch_tag
    FROM orders WHERE o_orderdate <  TIMESTAMP '1998-01-01'
    UNION ALL
    SELECT o_orderkey, o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_dec,
           'v2' AS batch_tag
    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    """,
    tags=("ingest", "schema", "evolution"),
)
def q_scan_schema_evolution(spark, sf_dir):
    """Schema evolution on read: two parquet batches written with
    DIFFERENT schemas (v2 adds a ``batch_tag`` column) into one dataset
    directory, read back with ``mergeSchema=true`` — old rows surface
    the new column as NULL, the standard additive-evolution contract of
    a landing zone that gains fields over time. The oracle rebuilds the
    same union from the source table, so a PASS proves the merged read
    is lossless across both physical schemas. mergeSchema costs a
    footer read per file at planning time — at 100 TB pin the merged
    schema explicitly (or use a table format's schema registry) instead
    of re-inferring per query; the read path exercised here is the
    same either way."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    base = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("total_dec"),
        "o_orderdate",
    )
    out = os.path.join(
        scratch_dir(f"q_schema_evo_{os.path.basename(sf_dir.rstrip(chr(47)))}"), "orders_evo"
    )
    marker = os.path.join(out, "_written")
    if not os.path.exists(marker):
        v1 = base.filter(F.col("o_orderdate") < cutoff).drop("o_orderdate")
        v2 = (
            base.filter(F.col("o_orderdate") >= cutoff)
            .drop("o_orderdate")
            .withColumn("batch_tag", F.lit("v2"))
        )
        v1.write.mode("overwrite").parquet(os.path.join(out, "b=1"))
        v2.write.mode("overwrite").parquet(os.path.join(out, "b=2"))
        with open(marker, "w") as fh:
            fh.write("ok")
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "b=1"), os.path.join(out, "b=2")
    )
    return back.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("total_dec").cast("double").alias("total_dec"),
        "batch_tag",
    )


@query(
    "q_scan_json_corrupt",
    oracle="""
    SELECT COUNT(*) FILTER (WHERE doc_id % 7 <> 0) AS n_ok,
           COUNT(*) FILTER (WHERE doc_id % 7 = 0)  AS n_corrupt,
           CAST(SUM(doc_id) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS sum_ok_ids,
           COUNT(DISTINCT lang) FILTER (WHERE doc_id % 7 <> 0) AS n_ok_langs
    FROM documents
    """,
    tags=("ingest", "scan", "json", "corrupt"),
)
def q_scan_json_corrupt(spark, sf_dir):
    """Malformed-record tolerance on the JSON scan path: a JSONL batch
    where every 7th record is truncated mid-object is read back in
    PERMISSIVE mode with an explicit ``_corrupt_record`` column — bad
    lines surface as (NULL-filled fields + raw line) rows instead of
    failing the job, the landing-zone contract for dirty feeds (the
    reference's fail-fast twin is DROPMALFORMED/FAILFAST, one option
    away on the same reader). The fixture is written DISTRIBUTED
    (df.write.text of pre-rendered lines, executors render JSON via
    to_json — no driver loop), and the summary proves BOTH directions:
    corrupt lines are quarantined exactly (count matches the id%7
    construction) and good lines are lossless (id-sum and lang-distinct
    survive the roundtrip). At 100 TB the same read feeds the corrupt
    rows to a quarantine sink while the clean rows proceed — one scan,
    no pre-validation pass."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = os.path.join(
        scratch_dir(f"q_scan_json_corrupt_{os.path.basename(sf_dir.rstrip(chr(47)))}"),
        "docs_jsonl",
    )
    marker = os.path.join(out, "_SUCCESS")
    good = F.to_json(F.struct("doc_id", "lang"))
    bad = F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(', "lang"'))
    lines = d.select(
        F.when(F.col("doc_id") % 7 == 0, bad).otherwise(good).alias("value")
    )
    if not os.path.exists(marker):
        lines.write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    ok = F.col("_corrupt_record").isNull()
    return back.agg(
        F.sum(ok.cast("bigint")).alias("n_ok"),
        F.sum((~ok).cast("bigint")).alias("n_corrupt"),
        F.sum(F.when(ok, F.col("doc_id"))).alias("sum_ok_ids"),
        F.countDistinct(F.when(ok, F.col("lang"))).alias("n_ok_langs"),
    )


def morton_interleave(a_col: str, b_col: str, bits: int = 8):
    """Morton (Z-order) code of two ``bits``-wide non-negative integer
    columns: bit i of ``a_col`` lands at output bit 2i, bit i of
    ``b_col`` at 2i+1 — one codegen'd ``aggregate`` over
    ``sequence(0, bits-1)``, no UDF. Inputs must already be
    rank/range-normalized to [0, 2^bits) (see
    :func:`range_normalize_expr`); the reusable core of
    :func:`q_scan_zorder` and the subject of the bit-exactness property
    test in ``tests/test_operator_properties.py``."""
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> acc"
        f" + shiftleft(cast(shiftright({a_col}, i) & 1 as bigint), 2 * i)"
        f" + shiftleft(cast(shiftright({b_col}, i) & 1 as bigint), 2 * i + 1))"
    )


def range_normalize_expr(col: str, min_col: str, max_col: str, bits: int = 8):
    """Range-normalize an integer column to [0, 2^bits): exact integer
    arithmetic ``(x - min) * (2^bits - 1) div max(max - min, 1)``.
    Z-ordering must interleave NORMALIZED keys — a raw interleave of
    unequal-width keys degenerates (the wider key's high bits own every
    split boundary, so the narrow key never clusters), the same reason
    Delta/Iceberg z-order on range-ranks rather than raw values."""
    hi = (1 << bits) - 1
    return F.expr(f"(({col} - {min_col}) * {hi}) div greatest({max_col} - {min_col}, 1)")


@query(
    "q_scan_zorder",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderpriority
    FROM orders
    WHERE o_custkey BETWEEN 40 AND 99 AND o_orderkey BETWEEN 200 AND 899
    """,
    tags=("ingest", "scan", "zorder", "skipping"),
)
def q_scan_zorder(spark, sf_dir):
    """Z-order clustered rewrite + multi-dimension data-skipping scan:
    orders are rewritten range-partitioned AND sorted by a Morton code
    (16-bit interleave of o_custkey and o_orderkey, one codegen'd
    ``aggregate`` over ``sequence(0,15)`` — no UDF), then a query
    filtering on BOTH dimensions reads the clustered copy. Because the
    z-curve keeps both key ranges locally narrow in every file, parquet
    row-group min/max stats prune most files for either predicate —
    single-column sort can only ever skip on its leading column, the
    reason warehouse engines (Delta OPTIMIZE ZORDER BY, Iceberg
    sort-order) ship exactly this rewrite. The oracle runs the same
    filter on the original table, so a PASS proves the clustered copy
    is content-identical; the skipping effectiveness itself is pinned
    by the per-file min/max assertions in tests/test_plans.py. At
    100 TB the rewrite is one range exchange amortized over every
    future two-dimensional scan."""
    o = load_table(spark, sf_dir, "orders")
    out = os.path.join(
        scratch_dir(f"q_scan_zorder_{os.path.basename(sf_dir.rstrip(chr(47)))}"),
        "orders_zorder",
    )
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        # Rank-normalize BOTH dimensions to 8 bits before interleaving:
        # raw interleave of unequal-width keys degenerates (the wider
        # key's high bits own every split boundary, so the narrow key
        # never clusters) — the same reason Delta/Iceberg z-order on
        # range-ranks, not raw values. The bounds row is one tiny agg
        # broadcast to every task.
        bounds = o.agg(
            F.min("o_custkey").alias("_cmin"),
            F.max("o_custkey").alias("_cmax"),
            F.min("o_orderkey").alias("_omin"),
            F.max("o_orderkey").alias("_omax"),
        )
        (
            o.crossJoin(F.broadcast(bounds))
            .withColumn(
                "_cn", range_normalize_expr("o_custkey", "_cmin", "_cmax")
            )
            .withColumn(
                "_on", range_normalize_expr("o_orderkey", "_omin", "_omax")
            )
            .withColumn("_z", morton_interleave("_cn", "_on"))
            .repartitionByRange(16, "_z")
            .sortWithinPartitions("_z")
            .drop("_z", "_cn", "_on", "_cmin", "_cmax", "_omin", "_omax")
            .write.mode("overwrite")
            .parquet(out)
        )
    back = spark.read.parquet(out)
    return back.filter(
        F.col("o_custkey").between(40, 99) & F.col("o_orderkey").between(200, 899)
    ).select("o_orderkey", "o_custkey", "o_orderpriority")


@query(
    "q_compact_plan",
    oracle="""
    WITH files AS (
        SELECT source, doc_id // 25 AS file_id, SUM(n_chars) AS bytes
        FROM documents GROUP BY 1, 2
    ), small AS (
        SELECT source, file_id, bytes,
               SUM(bytes) OVER (PARTITION BY source ORDER BY file_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_bytes
        FROM files WHERE bytes < 700
    )
    SELECT source, 'compact' AS action,
           CAST((cum_bytes - bytes) // 2000 AS BIGINT) AS bin_id,
           COUNT(*) AS n_files, CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           MIN(file_id) AS first_file
    FROM small GROUP BY 1, 3
    UNION ALL
    SELECT source, 'keep', file_id, 1, CAST(bytes AS BIGINT), file_id
    FROM files WHERE bytes >= 700
    """,
    tags=("ingest", "compaction", "layout", "maintenance"),
)
def q_compact_plan(spark, sf_dir):
    """Small-file compaction planner (Delta OPTIMIZE / Iceberg
    rewrite_data_files shape): given a file manifest (path, bytes),
    files below a small-file threshold are bin-packed into ~target-size
    rewrite groups by an exact running sum per table partition — a
    file's bin is its starting byte offset div target — while
    already-large files pass through untouched. The output is the
    rewrite plan a maintenance job executes: one row per output file,
    with the file count and exact byte size of each planned bin. The
    manifest here is simulated from ``documents`` (25-doc groups as
    "files", n_chars as bytes) so the query is self-contained; in
    production the same plan runs over the real file listing
    (``q_scan_binaryfile`` shape or a table-format manifest). Bin
    boundaries are reproducible (deterministic file order), every bin
    except a partition's last is ≥ target, and the planner never
    touches file CONTENT — at 100 TB it reads only the manifest
    (KB-per-million-files), one window per table partition, and the
    rewrite fan-out it emits is embarrassingly parallel."""
    d = load_table(spark, sf_dir, "documents")
    # pin the manifest: both the compact and keep branches read it, and
    # without pinning the manifest-building aggregation re-executes per
    # branch (in production this relation IS the file listing — tiny)
    files = (
        d.groupBy("source", F.expr("doc_id div 25").alias("file_id"))
        .agg(F.sum("n_chars").alias("bytes"))
        .localCheckpoint(eager=True)
    )
    return compaction_plan(files, small_threshold=700, target_bytes=2000)


def compaction_plan(
    files,
    small_threshold: int,
    target_bytes: int,
    part_col: str = "source",
    file_col: str = "file_id",
    bytes_col: str = "bytes",
):
    """Bin-pack sub-threshold files into ~``target_bytes`` rewrite
    groups per partition — a file's bin is its exact starting byte
    offset (running sum minus own size) ``div`` target, so bins are
    reproducible, every bin except a partition's last reaches ≥ target,
    and large files pass through as 1-file ``keep`` rows. The reusable
    core of :func:`q_compact_plan` (see its docstring for the
    manifest-only scale argument) and the subject of the greedy
    bin-packing property test in ``tests/test_operator_properties.py``."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(part_col)
        .orderBy(file_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    small = files.filter(F.col(bytes_col) < small_threshold).withColumn(
        "cum_bytes", F.sum(bytes_col).over(w)
    )
    compact = small.groupBy(
        part_col,
        F.expr(f"(cum_bytes - {bytes_col}) div {target_bytes}")
        .cast("bigint")
        .alias("bin_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(bytes_col).cast("bigint").alias("total_bytes"),
        F.min(file_col).alias("first_file"),
    )
    keep = files.filter(F.col(bytes_col) >= small_threshold).select(
        part_col,
        F.col(file_col).alias("bin_id"),
        F.lit(1).cast("bigint").alias("n_files"),
        F.col(bytes_col).cast("bigint").alias("total_bytes"),
        F.col(file_col).alias("first_file"),
    )
    return compact.withColumn("action", F.lit("compact")).select(
        part_col, "action", "bin_id", "n_files", "total_bytes", "first_file"
    ).unionByName(
        keep.withColumn("action", F.lit("keep")).select(
            part_col, "action", "bin_id", "n_files", "total_bytes", "first_file"
        )
    )


@query(
    "q_scan_delete_vectors",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_orderkey % 17 <> 0
    """,
    tags=("ingest", "scan", "merge-on-read", "deletes"),
)
def q_scan_delete_vectors(spark, sf_dir):
    """Merge-on-read deletes (the Iceberg v2 / Delta deletion-vector
    read path): the base table is written ONCE, deletes land as a tiny
    separate key-list file, and every read applies them with a
    broadcast anti-join — no base-file rewrite at delete time, which
    is the entire point at 100 TB (a copy-on-write delete of 0.1% of
    rows rewrites 100% of affected files; merge-on-read rewrites
    KB of delete lists and defers the rewrite to compaction,
    q_compact_plan's job). Both artifacts are physically materialized
    in scratch and read back, so the query exercises the real
    two-file read, not an in-plan filter; the oracle is the logical
    table (base minus deletes) computed directly, so a PASS proves
    read-time apply ≡ delete-time rewrite. The delete list is keyed
    (key-deletes); position-deletes work identically with
    (file, row_pos) via _metadata.row_index. Broadcast is correct
    because delete lists are small by design — a large accumulated
    list is the compaction trigger."""
    import os

    base_dir = os.path.join(
        scratch_dir(f"q_scan_mor_{os.path.basename(sf_dir.rstrip(chr(47)))}"), "t"
    )
    base = os.path.join(base_dir, "base")
    dels = os.path.join(base_dir, "deletes")
    if not os.path.exists(os.path.join(dels, "_SUCCESS")):
        o = load_table(spark, sf_dir, "orders")
        o.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
        ).write.mode("overwrite").parquet(base)
        o.filter(F.col("o_orderkey") % 17 == 0).select(
            F.col("o_orderkey").alias("del_key")
        ).coalesce(1).write.mode("overwrite").parquet(dels)
    b = spark.read.parquet(base)
    d = spark.read.parquet(dels)
    return b.join(
        F.broadcast(d), b.o_orderkey == d.del_key, "left_anti"
    )
