"""Source-reader tests: error-tolerant JSONL ingest (reference
per-record error-continue parity, ``mapreduce.go:45-48``)."""

from data_ingestor_spark.metrics import observed
from data_ingestor_spark.schemas import MIST_FLAT_SCHEMA
from data_ingestor_spark.sources import read_jsonl_records


def test_jsonl_permissive_captures_corrupt_rows(spark, tmp_path):
    p = tmp_path / "records.jsonl"
    p.write_text(
        '{"user": "alice", "dt_created": 1, "dt_submitted": 2, "location": "HQ", '
        '"status": "P", "json_hash": "h1", "filename": "f", "fnumber": "F1", "scan_time": "t"}\n'
        "this is not json at all\n"
        '{"user": "bob", "dt_created": 3, "dt_submitted": 4, "location": "B1", '
        '"status": "A", "json_hash": "h2", "filename": "f", "fnumber": "F2", "scan_time": "t"}\n'
        '{"user": "carol", "dt_created": "NOT_A_NUMBER", "dt_submitted": 5, "location": "B2", '
        '"status": "R", "json_hash": "h3", "filename": "f", "fnumber": "F3", "scan_time": "t"}\n'
    )
    df = read_jsonl_records(spark, str(p), MIST_FLAT_SCHEMA)
    rows = df.collect()
    # job survives: 4 lines in, 4 rows out, bad ones flagged not fatal
    assert len(rows) == 4
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["user"] for r in good} == {"alice", "bob"}
    assert len(bad) == 2  # malformed line + type-mismatch line

    # success/error counters (O20) from the same plan
    counted, obs = observed(df, error_condition="_corrupt_record IS NOT NULL")
    counted.collect()
    assert obs.get == {"rows_total": 4, "rows_error": 2, "rows_succeeded": 2}


def test_generate_sample_records(spark):
    """O21 parity: deterministic generator matches the nested model shape
    and flattens through the standard path."""
    from data_ingestor_spark.operators.flatten import flatten_nested
    from data_ingestor_spark.schemas import TEMPLATE_COLUMNS
    from data_ingestor_spark.util import generate_sample_records

    df = generate_sample_records(spark, 10)
    rows = df.collect()
    assert len(rows) == 10
    assert rows[0]["user"] == "User1" and rows[9]["user"] == "User10"
    assert rows[0]["ast_name"] == "asset-1" and rows[1]["ast_name"] is None
    assert all(len(r["fnumbers"]) == 2 for r in rows)
    # deterministic: two generations identical
    assert df.collect() == generate_sample_records(spark, 10).collect()
    # flattens through the standard operator: 10 records × 2 fnumbers
    assert flatten_nested(df, "fnumbers", TEMPLATE_COLUMNS).count() == 20


def test_multifile_json_ingest_parallelism(spark, tmp_path):
    """A directory of record documents loads as ONE DataFrame with one
    task per file (the multiLine JSON parallelism unit is the file)."""
    import shutil

    from data_ingestor_spark.schemas import MIST_NESTED_SCHEMA
    from data_ingestor_spark.sources import load

    from conftest import FIXTURES
    import os

    for i in range(4):
        shutil.copy(
            os.path.join(FIXTURES, "ingest-records.json"), tmp_path / f"part{i}.json"
        )
    df = load(spark, str(tmp_path), fmt="json", schema=MIST_NESTED_SCHEMA)
    assert df.count() == 4 * 10  # 10 records per document
    assert df.rdd.getNumPartitions() >= 2  # files split across tasks


def test_custom_datasource_matches_generator(spark):
    """The Spark 4 Python DataSource (format 'ingestor_samples') must
    emit exactly util.generate_sample_records' rows — same fields, same
    nulls, same nested fnumbers — for any count/partitioning."""
    from data_ingestor_spark.sources.sample_source import register
    from data_ingestor_spark.util import generate_sample_records

    register(spark)
    via_source = (
        spark.read.format("ingestor_samples")
        .option("count", 23)
        .option("numPartitions", 3)
        .load()
    )
    via_fn = generate_sample_records(spark, 23)
    key = lambda r: r["user"]  # noqa: E731
    a = sorted((r.asDict(recursive=True) for r in via_source.collect()), key=key)
    b = sorted((r.asDict(recursive=True) for r in via_fn.collect()), key=key)
    assert a == b
