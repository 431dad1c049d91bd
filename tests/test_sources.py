"""Source-reader tests: the sample-record generator, multi-file JSON
ingest and the custom data source."""


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
