"""End-to-end flagship load job (reference lifecycle §3.1 parity)."""

import csv
import json
import os
import shutil

import pytest

from conftest import FIXTURES, spark_jobs
from data_ingestor_spark.schemas import TEMPLATE_COLUMNS


def _fixture_csv(spark, path) -> None:
    """The JSON fixture's 17 flattened rows as one headed CSV file, the
    form the load job's own CSV export writes."""
    from data_ingestor_spark import sinks
    from data_ingestor_spark.operators.flatten import flatten_nested
    from data_ingestor_spark.schemas import MIST_NESTED_SCHEMA, TEMPLATE_COLUMNS
    from data_ingestor_spark.sources import load

    records = load(spark, os.path.join(FIXTURES, "ingest-records.json"), schema=MIST_NESTED_SCHEMA)
    sinks.export_csv(flatten_nested(records, columns=TEMPLATE_COLUMNS), str(path), single_file=True)


def test_run_load_job_full_lifecycle(spark, tmp_path):
    from data_ingestor_spark.pipeline import run_load_job
    from data_ingestor_spark.xlsx import read_rows

    src = tmp_path / "in.json"
    shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), src)

    res = run_load_job(
        spark,
        str(src),
        target_dir=str(tmp_path / "published"),
        csv_out=str(tmp_path / "out.csv"),
        excel_out=str(tmp_path / "out.xlsx"),
        json_out=str(tmp_path / "out.json"),
        archive_dir=str(tmp_path / "archive"),
        error_condition="fnumber IS NULL",
    )

    # published atomically: 17 flattened rows (7×2 + single + empty + missing)
    assert res.rows_published == 17
    assert spark.read.parquet(str(tmp_path / "published")).count() == 17

    # side exports present and consistent (one plan fanned out, §2.3(h)):
    # the CSV rows are the JSON rows, stringified, in the same order
    with open(tmp_path / "out.csv") as f:
        csv_rows = list(csv.DictReader(f))
    with open(tmp_path / "out.json") as f:
        json_rows = json.load(f)
    assert len(json_rows) == 17
    assert csv_rows == [
        {k: "" if v is None else str(v) for k, v in r.items()} for r in json_rows
    ]
    assert len(read_rows(str(tmp_path / "out.xlsx"))) == 1 + 17

    # error metric counted the 2 null-fnumber rows without dropping them
    assert res.rows_error == 2

    # input archived: gone from source, present in archive dir
    assert not src.exists()
    assert res.archived_to == str(tmp_path / "archive" / "in.json")
    assert os.path.isfile(res.archived_to)

    assert "succeeded=17" in res.report() and "errors=2" in res.report()


def test_cli_main(spark, tmp_path, capsys):
    """CLI flag-parity entry point drives the same lifecycle."""
    from data_ingestor_spark import cli

    src = tmp_path / "in.json"
    shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), src)
    rc = cli.main(
        ["--file", str(src), "--table", str(tmp_path / "out"), "--model", "MistAMS"]
    )
    assert rc == 0
    assert spark.read.parquet(str(tmp_path / "out")).count() == 17
    assert "[MistAMS] records succeeded=17" in capsys.readouterr().out

    # a CSV feed carries the flattened rows; the default nested schema
    # must still read it
    src_csv = tmp_path / "x.csv"
    _fixture_csv(spark, src_csv)
    rc = cli.main(["load", "--file", str(src_csv), "--table", str(tmp_path / "out_csv")])
    assert rc == 0
    assert spark.read.parquet(str(tmp_path / "out_csv")).count() == 17
    assert "[MistAMS] records succeeded=17 errors=0" in capsys.readouterr().out


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_cli_stream_subcommand(spark, tmp_path, capsys, fmt):
    """`stream` drains a watch dir through run_stream_job: same report
    shape as `load`, data/ + quarantine/ layout under --table."""
    from data_ingestor_spark import cli

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    if fmt == "csv":
        _fixture_csv(spark, in_dir / "a.csv")
    else:
        shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), in_dir / "a.json")
    rc = cli.main(
        [
            "stream",
            "--input-dir", str(in_dir),
            "--table", str(tmp_path / "out"),
            "--format", fmt,
            "--timeout", "120",
        ]
    )
    assert rc == 0
    assert spark.read.parquet(str(tmp_path / "out" / "data")).count() == 17
    assert "[MistAMS] records succeeded=17 quarantined=0" in capsys.readouterr().out


def test_run_load_job_xml_input(spark, tmp_path):
    """The same lifecycle over the XML fixture (O1+O8 path): 6 records
    with 2 repeated groups + 1 single + 1 empty = 14 flattened rows."""
    from data_ingestor_spark.pipeline import run_load_job

    src = tmp_path / "in.xml"
    shutil.copy(os.path.join(FIXTURES, "ingest-records.xml"), src)
    res = run_load_job(
        spark,
        str(src),
        target_dir=str(tmp_path / "published"),
        csv_out=str(tmp_path / "out.csv"),
        archive_dir=str(tmp_path / "archive"),
    )
    assert res.rows_published == 14
    out = spark.read.parquet(str(tmp_path / "published"))
    assert out.count() == 14
    # XML chardata arrives as strings but lands in the TYPED schema (§2.3(e))
    assert dict(out.dtypes)["dt_created"] == "bigint"
    assert not src.exists() and os.path.isfile(res.archived_to)


def test_run_load_job_sinks_run_in_the_callers_job_group(spark, tmp_path):
    """Load check + publish + CSV + JSON = 4 jobs, all in the caller's
    job group: the sink threads inherit it, and nothing re-reads the
    publish or builds a cache."""
    from data_ingestor_spark.pipeline import run_load_job

    src = tmp_path / "in.json"
    shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), src)
    res, jobs = spark_jobs(
        spark,
        run_load_job,
        spark,
        str(src),
        target_dir=str(tmp_path / "published"),
        csv_out=str(tmp_path / "out.csv"),
        json_out=str(tmp_path / "out.json"),
    )
    assert res.rows_published == 17
    assert jobs == 4


def test_run_load_job_failed_sink_keeps_input(spark, tmp_path):
    """A sink that cannot be written (its parent path is a regular
    file) fails the job after every sink has finished, and the input is
    never archived."""
    from data_ingestor_spark.pipeline import run_load_job

    src = tmp_path / "in.json"
    shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), src)
    (tmp_path / "blocker").write_text("a file, not a directory")
    with pytest.raises(Exception):
        run_load_job(
            spark,
            str(src),
            target_dir=str(tmp_path / "published"),
            csv_out=str(tmp_path / "blocker" / "out.csv"),
            json_out=str(tmp_path / "out.json"),
            archive_dir=str(tmp_path / "archive"),
        )
    assert src.is_file()
    assert not (tmp_path / "archive").exists()
    # the other sinks ran to completion before the failure was raised
    assert (tmp_path / "out.json").is_file()


def test_run_load_job_empty_document(spark, tmp_path):
    """A well-formed document with no records publishes 0 rows with 0
    errors, archives its input and writes empty exports (all counters
    are 0, not NULL, over zero rows)."""
    from data_ingestor_spark.pipeline import run_load_job

    src = tmp_path / "in.json"
    src.write_text('{"Records": []}')
    res = run_load_job(
        spark,
        str(src),
        target_dir=str(tmp_path / "published"),
        csv_out=str(tmp_path / "out.csv"),
        json_out=str(tmp_path / "out.json"),
        archive_dir=str(tmp_path / "archive"),
        error_condition="fnumber IS NULL",
    )
    assert (res.rows_published, res.rows_error) == (0, 0)
    assert not src.exists() and os.path.isfile(res.archived_to)
    with open(tmp_path / "out.csv") as f:
        assert list(csv.reader(f)) == [TEMPLATE_COLUMNS]
    with open(tmp_path / "out.json") as f:
        assert json.load(f) == []
