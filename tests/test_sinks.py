"""Sink parity tests (reference O12, O15-O19)."""

import csv
import json
import os

import pytest

from data_ingestor_spark import sinks


@pytest.fixture()
def flat_df(spark):
    from data_ingestor_spark.operators.flatten import flatten_nested
    from data_ingestor_spark.schemas import MIST_NESTED_SCHEMA, TEMPLATE_COLUMNS
    from data_ingestor_spark.sources import load

    from conftest import FIXTURES

    raw = load(spark, os.path.join(FIXTURES, "ingest-records.json"), schema=MIST_NESTED_SCHEMA)
    return flatten_nested(raw, "fnumbers", TEMPLATE_COLUMNS)


def test_export_csv_single_file(flat_df, tmp_path):
    out = str(tmp_path / "out.csv")
    sinks.export_csv(flat_df, out, single_file=True)
    assert os.path.isfile(out)
    with open(out) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 17
    # canonical template column order (SURVEY §2.3(b))
    assert list(rows[0].keys()) == flat_df.columns
    # missing/null values render as "" (fileloader-schema.go:556-563)
    ivan = next(r for r in rows if r["user"] == "ivan")
    assert ivan["fnumber"] == "" and ivan["scan_time"] == ""


def test_export_csv_distributed(flat_df, tmp_path):
    out = str(tmp_path / "out_dir.csv")
    sinks.export_csv(flat_df, out)
    assert os.path.isdir(out)  # partitioned directory write (the scale path)


@pytest.mark.parametrize("frame", ["mist", "adversarial", "repartition3", "empty"])
def test_export_json_array(spark, flat_df, adversarial_sf_dir, tmp_path, frame):
    """The executor-serialized array holds exactly ``df.collect()``, in
    its order and with every key in column order — across partitions,
    NULLs, control characters, emoji and zero rows — and leaves no temp
    files behind."""
    df = {
        "mist": lambda: flat_df,
        "adversarial": lambda: spark.read.parquet(f"{adversarial_sf_dir}/documents.parquet"),
        "repartition3": lambda: flat_df.repartition(3),
        "empty": lambda: spark.createDataFrame([], flat_df.schema),
    }[frame]()
    out = tmp_path / "out.json"
    sinks.export_json(df, str(out), array=True)
    with open(out) as f:
        data = json.load(f)
    assert data == [r.asDict(recursive=True) for r in df.collect()]
    assert all(list(r) == df.columns for r in data)
    assert os.listdir(tmp_path) == ["out.json"]


def test_publish_parquet_counts_from_the_write(spark, tmp_path):
    """One Spark job (the staging write); the count it returns is the
    row count a read-back of the published parquet finds."""
    from conftest import spark_jobs

    final = str(tmp_path / "tbl")
    n, jobs = spark_jobs(spark, sinks.publish_parquet_atomic, spark.range(0, 1000, 1, 4), final)
    assert jobs == 1
    assert n == spark.read.parquet(final).count() == 1000


class _JvmConnection:
    """DBAPI connection over a JVM JDBC connection (py4j), with just
    what ``sinks.publish_staged`` and this test use: ``cursor()``
    returns the connection, ``execute`` runs one statement, and
    ``query`` returns every row as a tuple."""

    def __init__(self, jvm, url):
        self._conn = jvm.java.sql.DriverManager.getConnection(url)
        self._conn.setAutoCommit(False)

    def cursor(self):
        return self

    def execute(self, sql):
        self._conn.createStatement().execute(sql)

    def query(self, sql):
        rs = self._conn.createStatement().executeQuery(sql)
        width = rs.getMetaData().getColumnCount()
        rows = []
        while rs.next():
            rows.append(tuple(rs.getObject(i + 1) for i in range(width)))
        return rows

    def commit(self):
        self._conn.commit()

    def rollback(self):
        self._conn.rollback()

    def close(self):
        self._conn.rollback()  # DBAPI: closing discards uncommitted work
        self._conn.close()


def test_publish_jdbc_atomic_derby_end_to_end(spark, tmp_path):
    """Both phases of the JDBC publish against a real database: Spark
    stages the rows into in-memory Derby (its jars ship with pyspark),
    and the driver-side transaction moves them into a mixed-case target
    (the reference's ``-table SFLW_RECS``) and drops the staging table.
    Phase 1 must create the staging table under the quoted name phase 2
    uses, or the database case-folds it and phase 2 does not find it."""
    import uuid

    jvm = spark._jvm
    jvm.java.lang.System.setProperty("derby.stream.error.file", str(tmp_path / "derby.log"))
    url = f"jdbc:derby:memory:publish_{uuid.uuid4().hex};create=true"
    setup = _JvmConnection(jvm, url)
    setup.execute('CREATE TABLE "SFLW_RECS" ("user" VARCHAR(16), "n" BIGINT)')
    setup.commit()
    df = spark.createDataFrame([("alice", 1), ("bob", 2), ("carol", 3)], "user string, n bigint")

    n = sinks.publish_jdbc_atomic(
        df.repartition(2),
        url,
        "SFLW_RECS",
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
        connect=lambda: _JvmConnection(jvm, url),
    )
    assert n == 3
    assert sorted(setup.query('SELECT "user", "n" FROM "SFLW_RECS"')) == [
        ("alice", 1), ("bob", 2), ("carol", 3)
    ]
    assert setup.query("SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'") == [
        ("SFLW_RECS",)
    ]
    setup.close()


def test_export_excel_roundtrip(flat_df, tmp_path):
    from data_ingestor_spark.xlsx import read_rows

    out = str(tmp_path / "out.xlsx")
    sinks.export_excel(flat_df, out)
    grid = read_rows(out)
    assert list(grid[0]) == flat_df.columns
    assert len(grid) == 1 + 17
    # null fnumber renders "" (reference CSV/Excel semantics)
    ivan = next(r for r in grid[1:] if r[0] == "ivan")
    assert ivan[9] == "" or ivan[9] is None


def test_excel_template_roundtrip(tmp_path):
    """write_sheet → columns_from_excel reproduces the reference's
    db-template.xlsx row-3 column extraction (O6)."""
    from data_ingestor_spark.schemas import TEMPLATE_COLUMNS, columns_from_excel
    from data_ingestor_spark.xlsx import write_sheet

    path = str(tmp_path / "template.xlsx")
    display = ["User", "Date Created", "Date Submitted", "Asset Name", "Location",
               "Status", "JSON Hash", "Local ID", "Filename", "FNumber", "Scan Time"]
    flags = ["REQUIRED"] * 9 + ["OPTIONAL"] * 2
    write_sheet(path, [display, flags, list(TEMPLATE_COLUMNS)])
    assert columns_from_excel(path, "Sheet1", line=3) == TEMPLATE_COLUMNS
    assert columns_from_excel(path, "Sheet1", line=2) == flags


def test_build_insert_select_atomic_publish():
    stmts = sinks.build_insert_select("t__staging", "t", ["user", "dt_created"])
    assert stmts[0] == 'INSERT INTO "t" ("user", "dt_created") SELECT "user", "dt_created" FROM "t__staging"'
    assert stmts[1] == 'DROP TABLE "t__staging"'


def test_build_insert_select_schema_qualified():
    # each dot-separated part quoted separately — '"public"."events"',
    # never the single identifier '"public.events"'
    stmts = sinks.build_insert_select("public.events__staging", "public.events", ["id"])
    assert stmts[0] == (
        'INSERT INTO "public"."events" ("id") SELECT "id" FROM "public"."events__staging"'
    )
    assert stmts[1] == 'DROP TABLE "public"."events__staging"'


def _sqlite_connect(path):
    import sqlite3

    def connect():
        return sqlite3.connect(path)

    return connect


def test_publish_staged_sqlite_commit(tmp_path):
    """The phase-2 transaction body against a live DBAPI driver: target
    flips from its old contents to old+staged, staging is dropped."""
    import sqlite3

    db = str(tmp_path / "pub.db")
    with sqlite3.connect(db) as conn:
        conn.execute('CREATE TABLE "target" ("id" INTEGER, "name" TEXT)')
        conn.execute('CREATE TABLE "target__staging" ("id" INTEGER, "name" TEXT)')
        conn.execute("INSERT INTO target VALUES (1, 'old')")
        conn.executemany("INSERT INTO target__staging VALUES (?, ?)", [(2, "a"), (3, "b")])

    sinks.publish_staged(_sqlite_connect(db), "target__staging", "target", ["id", "name"])

    with sqlite3.connect(db) as conn:
        rows = sorted(conn.execute("SELECT id, name FROM target").fetchall())
        assert rows == [(1, "old"), (2, "a"), (3, "b")]
        tables = {r[0] for r in conn.execute("SELECT name FROM sqlite_master WHERE type='table'")}
        assert "target__staging" not in tables


def test_publish_stream_batch_staged_sqlite_exactly_once(tmp_path):
    """Streaming micro-batch JDBC publish: first call commits rows +
    ledger atomically; a REPLAY of the same batch_id hits the ledger's
    PRIMARY KEY, the server rolls back everything, and the call
    reports the no-op — rows land exactly once."""
    import sqlite3

    db = str(tmp_path / "stream.db")
    with sqlite3.connect(db) as conn:
        conn.execute(sinks.ledger_ddl("__stream_batches"))
        conn.execute('CREATE TABLE "target" ("id" INTEGER, "name" TEXT)')
        conn.execute('CREATE TABLE "b7__staging" ("id" INTEGER, "name" TEXT)')
        conn.executemany("INSERT INTO b7__staging VALUES (?, ?)", [(1, "a"), (2, "b")])

    assert (
        sinks.publish_stream_batch_staged(
            _sqlite_connect(db), "b7__staging", "target", ["id", "name"], batch_id=7
        )
        is True
    )
    # replay: re-stage the same rows (a restarted job re-runs phase 1 too)
    with sqlite3.connect(db) as conn:
        conn.execute('CREATE TABLE "b7__staging" ("id" INTEGER, "name" TEXT)')
        conn.executemany("INSERT INTO b7__staging VALUES (?, ?)", [(1, "a"), (2, "b")])
    assert (
        sinks.publish_stream_batch_staged(
            _sqlite_connect(db), "b7__staging", "target", ["id", "name"], batch_id=7
        )
        is False
    )
    with sqlite3.connect(db) as conn:
        rows = sorted(conn.execute("SELECT id, name FROM target").fetchall())
        assert rows == [(1, "a"), (2, "b")]  # exactly once
        # the replay rolled back wholesale: its staging table survives
        tables = {r[0] for r in conn.execute("SELECT name FROM sqlite_master WHERE type='table'")}
        assert "b7__staging" in tables
        assert conn.execute("SELECT count(*) FROM __stream_batches").fetchone()[0] == 1

    # a NEW batch_id over the surviving staging publishes normally
    assert (
        sinks.publish_stream_batch_staged(
            _sqlite_connect(db), "b7__staging", "target", ["id", "name"], batch_id=8
        )
        is True
    )
    with sqlite3.connect(db) as conn:
        assert conn.execute("SELECT count(*) FROM target").fetchone()[0] == 4


def test_publish_stream_batch_staged_sqlite_real_failure_reraises(tmp_path):
    """A non-duplicate failure (missing staging table) must re-raise
    after rollback — only the replay shape is swallowed."""
    import sqlite3

    import pytest as _pytest

    db = str(tmp_path / "stream2.db")
    with sqlite3.connect(db) as conn:
        conn.execute(sinks.ledger_ddl())
        conn.execute('CREATE TABLE "target" ("id" INTEGER)')

    with _pytest.raises(Exception, match="no such table"):
        sinks.publish_stream_batch_staged(
            _sqlite_connect(db), "missing__staging", "target", ["id"], batch_id=1
        )
    with sqlite3.connect(db) as conn:
        # rollback: the failed batch left no ledger row
        assert conn.execute("SELECT count(*) FROM __stream_batches").fetchone()[0] == 0


def test_publish_staged_sqlite_mid_transaction_rollback(tmp_path):
    """Failure BETWEEN the INSERT and the DROP rolls the whole
    transaction back: target keeps exactly its pre-publish contents and
    staging survives (reference rollback-every, dbtransposer.go:330-364)."""
    import sqlite3

    db = str(tmp_path / "pub.db")
    with sqlite3.connect(db) as conn:
        conn.execute('CREATE TABLE "target" ("id" INTEGER)')
        conn.execute('CREATE TABLE "target__staging" ("id" INTEGER)')
        conn.execute("INSERT INTO target VALUES (1)")
        conn.execute("INSERT INTO target__staging VALUES (2)")

    class FailsOnDrop:
        """DBAPI connection wrapper whose cursor raises on DROP — the
        INSERT has already executed inside the open transaction."""

        def __init__(self):
            self.conn = sqlite3.connect(db)

        def cursor(self):
            real = self.conn.cursor()

            class Cur:
                def execute(self, stmt, *a):
                    if stmt.lstrip().upper().startswith("DROP"):
                        raise RuntimeError("injected mid-transaction failure")
                    return real.execute(stmt, *a)

            return Cur()

        def commit(self):
            self.conn.commit()

        def rollback(self):
            self.conn.rollback()

        def close(self):
            self.conn.close()

    with pytest.raises(RuntimeError, match="injected"):
        sinks.publish_staged(FailsOnDrop, "target__staging", "target", ["id"])

    with sqlite3.connect(db) as conn:
        assert conn.execute("SELECT id FROM target").fetchall() == [(1,)]
        assert conn.execute("SELECT id FROM target__staging").fetchall() == [(2,)]


def test_publish_staged_sqlite_failed_insert_rolls_back(tmp_path):
    """A constraint violation in the INSERT itself leaves the target
    untouched — all-or-nothing also holds for the first statement."""
    import sqlite3

    db = str(tmp_path / "pub.db")
    with sqlite3.connect(db) as conn:
        conn.execute('CREATE TABLE "target" ("id" INTEGER PRIMARY KEY)')
        conn.execute('CREATE TABLE "target__staging" ("id" INTEGER)')
        conn.execute("INSERT INTO target VALUES (1)")
        conn.executemany("INSERT INTO target__staging VALUES (?)", [(2,), (1,)])  # 1 collides

    with pytest.raises(sqlite3.IntegrityError):
        sinks.publish_staged(_sqlite_connect(db), "target__staging", "target", ["id"])

    with sqlite3.connect(db) as conn:
        assert conn.execute("SELECT id FROM target").fetchall() == [(1,)]
        tables = {r[0] for r in conn.execute("SELECT name FROM sqlite_master WHERE type='table'")}
        assert "target__staging" in tables


@pytest.mark.parametrize("bad", ["t; DROP TABLE x", 'a"b', "1tbl", "t name", ""])
def test_unsafe_identifiers_rejected(bad):
    # SURVEY §2.3(g): the reference interpolates identifiers raw; we validate.
    with pytest.raises(ValueError):
        sinks.build_insert_select(bad, "t", ["c"])


def test_archive_input(tmp_path):
    src = tmp_path / "in.json"
    src.write_text("{}")
    dest_dir = tmp_path / "archive" / "nested"  # created on demand (fileloader.go:265-270)
    archived = sinks.archive_input(str(src), str(dest_dir))
    assert os.path.isfile(archived) and not src.exists()
    assert archived == str(dest_dir / "in.json")


def test_xlsx_sheet_name_with_quote_is_valid_xml(tmp_path):
    """A '"' in the sheet name must not break the workbook.xml attribute."""
    import zipfile
    from xml.etree import ElementTree

    from data_ingestor_spark.xlsx import read_rows, write_sheet

    path = str(tmp_path / "q.xlsx")
    sheet = 'Totals "final" v2'
    write_sheet(path, [["a"], ["1"]], sheet=sheet)
    with zipfile.ZipFile(path) as z:
        wb = ElementTree.fromstring(z.read("xl/workbook.xml"))  # parses ⇒ well-formed
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    assert wb.find(f"{ns}sheets/{ns}sheet").get("name") == sheet
    assert read_rows(path, sheet=sheet) == [["a"], ["1"]]


def test_publish_parquet_creates_new_nested_target(spark, tmp_path):
    """A target whose parent directories don't exist yet publishes: the
    staging write creates them."""
    final = str(tmp_path / "new" / "nested" / "dir" / "tbl")
    n = sinks.publish_parquet_atomic(spark.range(5).toDF("id"), final)
    assert n == 5
    assert {r.id for r in spark.read.parquet(final).collect()} == set(range(5))


def test_xlsx_reader_handles_shared_strings(tmp_path):
    """Files produced by Excel/excelize use sharedStrings.xml (the
    reference's db-template.xlsx does); our reader must resolve them."""
    import zipfile

    path = str(tmp_path / "shared.xlsx")
    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    wb = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    )
    root_rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    sst = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">'
        "<si><t>user</t></si><si><t>dt_created</t></si><si><r><t>loc</t></r><r><t>ation</t></r></si></sst>"
    )
    # row 1: shared strings (incl. a multi-run si); row 2: numeric + inline
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>'
        '<row r="2"><c r="A2"><v>42</v></c><c r="C2" t="inlineStr"><is><t>x</t></is></c></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    from data_ingestor_spark.schemas import columns_from_excel
    from data_ingestor_spark.xlsx import read_rows

    grid = read_rows(path)
    assert grid[0] == ["user", "dt_created", "location"]  # multi-run si concatenated
    assert grid[1] == [42, None, "x"]
    assert columns_from_excel(path, line=1) == ["user", "dt_created", "location"]


def test_write_sheet_strips_lone_surrogates(tmp_path):
    """ADVICE r8: a str carrying a lone surrogate (e.g. produced by
    surrogateescape decoding of invalid UTF-8) passed translate/escape
    untouched and then crashed the UTF-8 encode of the sheet XML — the
    exact one-dirty-cell job failure _XML_ILLEGAL exists to prevent.
    Surrogates are XML-illegal like C0 controls: stripped, job
    survives, the rest of the cell round-trips."""
    from data_ingestor_spark.xlsx import read_rows, write_sheet

    dirty = "pre\ud800mid\udfffpost"  # lone high + low surrogate
    path = str(tmp_path / "surrogate.xlsx")
    write_sheet(path, [["ok", dirty], ["\x00ctl", "clean"]])
    grid = read_rows(path)
    assert grid[0] == ["ok", "premidpost"]
    assert grid[1] == ["ctl", "clean"]


def test_jdbc_stream_sink_sqlite_replay_cleanup(tmp_path):
    """The library foreachBatch body: first delivery stages + commits;
    a replay no-ops AND drops its orphaned staging table; a later new
    batch publishes normally. No Spark needed — stage_batch is the
    only consumer of the batch object."""
    import sqlite3

    db = str(tmp_path / "sink.db")
    with sqlite3.connect(db) as conn:
        conn.execute(sinks.ledger_ddl())
        conn.execute('CREATE TABLE "target" ("id" INTEGER)')

    def stage_batch(rows, staging):
        with sqlite3.connect(db) as conn:
            conn.execute(f'CREATE TABLE "{staging}" ("id" INTEGER)')
            conn.executemany(f'INSERT INTO "{staging}" VALUES (?)', [(r,) for r in rows])

    sink = sinks.jdbc_stream_sink(_sqlite_connect(db), "target", ["id"], stage_batch)

    sink([1, 2], 0)          # first delivery
    sink([1, 2], 0)          # replay (e.g. checkpoint loss)
    sink([3], 1)             # next batch

    with sqlite3.connect(db) as conn:
        assert sorted(r[0] for r in conn.execute("SELECT id FROM target")) == [1, 2, 3]
        tables = {r[0] for r in conn.execute(
            "SELECT name FROM sqlite_master WHERE type='table' AND name LIKE '%__staging'"
        )}
        assert tables == set(), f"orphaned staging tables: {tables}"
        assert conn.execute("SELECT count(*) FROM __stream_batches").fetchone()[0] == 2


def test_publish_stream_batch_staged_property_any_replay_sequence(tmp_path):
    """Property (hypothesis): for ANY delivery sequence — batches
    arriving in any order, each replayed any number of times — the
    target ends with exactly one copy of every distinct batch's rows.
    This is the exactly-once contract under arbitrary re-delivery,
    which Structured Streaming permits after checkpoint loss."""
    import sqlite3

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        deliveries=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=20)
    )
    def run(deliveries):
        db = str(tmp_path / f"prop_{abs(hash(tuple(deliveries)))}.db")
        with sqlite3.connect(db) as conn:
            conn.execute(sinks.ledger_ddl())
            conn.execute('CREATE TABLE "target" ("bid" INTEGER, "val" TEXT)')
        for bid in deliveries:
            staging = f"b{bid}__staging"
            with sqlite3.connect(db) as conn:
                conn.execute(f'DROP TABLE IF EXISTS "{staging}"')
                conn.execute(f'CREATE TABLE "{staging}" ("bid" INTEGER, "val" TEXT)')
                conn.executemany(
                    f'INSERT INTO "{staging}" VALUES (?, ?)',
                    [(bid, f"row{i}") for i in range(3)],
                )
            sinks.publish_stream_batch_staged(
                _sqlite_connect(db), staging, "target", ["bid", "val"], batch_id=bid
            )
        with sqlite3.connect(db) as conn:
            rows = conn.execute("SELECT bid, count(*) FROM target GROUP BY bid").fetchall()
        assert sorted(r[0] for r in rows) == sorted(set(deliveries))
        assert all(n == 3 for _, n in rows), "a replay duplicated rows"

    run()
