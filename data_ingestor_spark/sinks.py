"""Sinks: exports, atomic JDBC publish, input archival.

Reference parity map:

- :func:`export_csv` ← ``ExportToCSV`` (``fileloader/fileloader-schema.go:
  527-573``): header from the record keys, missing values → ``""``. The
  reference's header order is Go-map iteration order (nondeterministic,
  ``:543-547``); here it is the DataFrame's canonical column order
  (SURVEY §2.3(b) — strictly better, same data).
- :func:`export_excel` ← ``ExportToExcel`` (``fileloader-schema.go:
  576-606``): Sheet1 cell grid. Driver-side openpyxl — exports in the
  reference are whole-file materializations already, and Excel is not a
  distributed format.
- :func:`export_json` ← ``ExportToJSON`` (``fileloader-schema.go:
  513-525``): a single JSON array of record objects. Distributed JSONL is
  the scale path; ``array=True`` reproduces the reference's single-array
  file shape, serialized on executors: one compact object per line, null
  keys kept, values rendered by Spark's JSON source (the driver only
  concatenates part files — it never holds the rows).
- :func:`publish_jdbc_atomic` ← O12 multi-row INSERT sink
  (``dbtransposer/dbtransposer-schema.go:22-103``) + O15 all-or-nothing
  cross-worker commit (``dbtransposer/dbtransposer.go:290-364``). Spark
  has no cross-partition transaction to JDBC, so the same atomicity is
  achieved with the staging pattern: parallel ``df.write.jdbc`` into a
  fresh staging table (any task failure fails the job before publish),
  then one driver-side transaction ``INSERT INTO target SELECT … ;
  DROP staging`` — the target table never sees a partial load.
- :func:`archive_input` ← ``MoveInputFile`` (``fileloader/fileloader.go:
  263-328``): create destination dir on demand, copy, delete source.

Identifier safety: the reference interpolates table names raw into SQL
(``dbtransposer-schema.go:43-47``, SURVEY §2.3(g)); here every identifier
is validated against ``_IDENT_RE`` before it may appear in SQL text.

Scale notes: CSV/JSON exports are distributed writers (one file per
partition, Spark's output-commit protocol makes the directory write
atomic); ``single_file=True`` coalesces to one partition — a driver-
bottleneck convenience for small extracts only, never the 100 TB path.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_IDENT_PART_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*$")


def _check_ident(name: str) -> str:
    """Reject SQL identifiers that would require escaping (§2.3(g)).

    A name may be schema-qualified (``schema.table``); each dot-separated
    part is validated separately, because the quoted form must quote the
    parts individually — ``"public"."events"``, never ``"public.events"``
    (which names a single table containing a literal dot).
    """
    parts = name.split(".")
    if not parts or not all(_IDENT_PART_RE.match(p) for p in parts):
        raise ValueError(f"unsafe SQL identifier: {name!r}")
    return name


def _quote_ident(name: str) -> str:
    """Validated, part-wise-quoted SQL identifier (``"schema"."table"``).
    For TABLE names only — dots are schema qualifiers here."""
    return ".".join(f'"{p}"' for p in _check_ident(name).split("."))


_COL_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$.]*$")


def _quote_col(name: str) -> str:
    """Validated, whole-quoted COLUMN identifier. Unlike table names, a
    dot inside a column name (e.g. a flattened ``user.name``) is part of
    the name, so the whole thing is quoted as ONE identifier —
    ``"user.name"``, never ``"user"."name"``."""
    if not _COL_RE.match(name):
        raise ValueError(f"unsafe SQL identifier: {name!r}")
    return f'"{name}"'


def _stringify(df: DataFrame) -> DataFrame:
    """Reference CSV/Excel semantics: every value ``%v``-stringified and
    missing values rendered ``""`` (``fileloader-schema.go:556-563``)."""
    return df.select(
        *[F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c) for c in df.columns]
    )


def _collapse_single_file(out_dir: str, ext: str) -> None:
    """Promote the lone part file of a coalesced write to ``out_dir`` itself."""
    parts = sorted(glob.glob(os.path.join(out_dir, f"part-*{ext}")) or glob.glob(os.path.join(out_dir, "part-*")))
    if len(parts) != 1:
        raise RuntimeError(f"expected exactly one part file in {out_dir}, found {len(parts)}")
    tmp = out_dir + ".__file__"
    shutil.move(parts[0], tmp)
    shutil.rmtree(out_dir)
    shutil.move(tmp, out_dir)


def export_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV export with header (O16). ``single_file=True`` reproduces the
    reference's one-file output (small extracts only)."""
    out = _stringify(df)
    writer = (out.coalesce(1) if single_file else out).write.option("header", "true").mode("overwrite")
    writer.csv(path)
    if single_file:
        _collapse_single_file(path, ".csv")


def _part_order(name: str) -> tuple[int, str]:
    """Sort key of a Spark part file: its partition number, then its name
    (``-c000``, ``-c001`` … when a partition spans several files)."""
    return int(name.split("-", 2)[1]), name


def export_json(df: DataFrame, path: str, array: bool = False) -> None:
    """JSON export (O18). Default: distributed JSONL (the scale path).

    ``array=True``: one file holding a single JSON array of the rows, in
    ``df``'s row order — the reference's file shape
    (``fileloader-schema.go:519-522``). Executors serialize: Spark's JSON
    source writes one compact object per line (null keys kept, values
    rendered by Spark) into a temp directory next to ``path``; the driver
    only concatenates the part files in partition order as ``[`` + lines
    joined by ``,\\n`` + ``]`` and ``os.replace``\\ s the result onto
    ``path``. An empty frame gives ``[]``."""
    if not array:
        df.write.mode("overwrite").json(path)
        return
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f".{os.path.basename(path)}.", dir=parent)
    try:
        parts_dir, tmp = os.path.join(work, "parts"), os.path.join(work, "array.json")
        df.write.option("ignoreNullFields", "false").json(parts_dir)
        parts = sorted((n for n in os.listdir(parts_dir) if n.startswith("part-")), key=_part_order)
        with open(tmp, "wb") as out:
            sep = b"["
            for name in parts:
                with open(os.path.join(parts_dir, name), "rb") as part:
                    for line in part:
                        out.write(sep + line.rstrip(b"\n"))
                        sep = b",\n"
            out.write(b"[]" if sep == b"[" else b"]")
        os.replace(tmp, path)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def export_excel(df: DataFrame, path: str) -> None:
    """Excel export (O17): header row + stringified cell grid on
    ``Sheet1``, the reference's sheet.

    Driver-side materialization — mirrors the reference, which holds the
    full record slice in memory for this export (``fileloader-schema.go:
    200-229``). Guard large frames with a LIMIT before calling.
    """
    from data_ingestor_spark.xlsx import write_sheet

    out = _stringify(df)
    grid: list[list[object]] = [list(out.columns)]
    for row in out.toLocalIterator():
        grid.append(list(row))
    os.makedirs(os.path.dirname(os.path.abspath(path)) or ".", exist_ok=True)
    write_sheet(path, grid)


def build_insert_select(staging: str, target: str, columns: list[str]) -> list[str]:
    """The atomic-publish transaction body (O15 semantics, staged).

    Returned statements are executed in ONE driver-side transaction so
    the target table flips from zero staged rows visible to all of them:
    all-or-nothing, like the reference's commit-every/rollback-every
    reduce (``dbtransposer.go:290-364``) but without its partial-insert
    hazards (SURVEY §2.3(c)).
    """
    cols = ", ".join(_quote_col(c) for c in columns)
    return [
        f"INSERT INTO {_quote_ident(target)} ({cols}) SELECT {cols} FROM {_quote_ident(staging)}",
        f"DROP TABLE {_quote_ident(staging)}",
    ]


def publish_staged(connect, staging: str, target: str, columns: list[str]) -> None:
    """Execute the atomic-publish transaction body over a DBAPI connection.

    One transaction: ``INSERT INTO target SELECT … FROM staging`` then
    ``DROP`` the staging table; any failure rolls the whole transaction
    back, leaving the target exactly as it was (the reference's
    rollback-every semantics, ``dbtransposer.go:330-364``). Split out
    from :func:`publish_jdbc_atomic` so the transaction body is testable
    against any DBAPI driver without a JVM JDBC URL — covered by both
    sqlite3 unit tests and live Postgres 15 wire-protocol e2e tests
    (``tests/test_postgres_e2e.py``: commit, server-side rollback, and
    quoted/schema-qualified identifiers against a real server).
    """
    conn = connect()
    try:
        cur = conn.cursor()
        for stmt in build_insert_select(staging, target, columns):
            cur.execute(stmt)
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def ledger_ddl(ledger_table: str = "__stream_batches") -> str:
    """DDL for the streaming batch ledger: the PRIMARY KEY on
    ``batch_id`` IS the exactly-once mechanism (see
    :func:`publish_stream_batch_staged`)."""
    _check_ident(ledger_table)
    return (
        f"CREATE TABLE IF NOT EXISTS {_quote_ident(ledger_table)} "
        f'("batch_id" BIGINT PRIMARY KEY)'
    )


#: substrings identifying a unique/primary-key violation across common
#: DBAPI drivers (Postgres "duplicate key value violates unique
#: constraint" / SQLSTATE 23505; SQLite "UNIQUE constraint failed")
_DUPLICATE_KEY_MARKERS = ("duplicate key", "23505", "UNIQUE constraint")


def publish_stream_batch_staged(
    connect,
    staging: str,
    target: str,
    columns: list[str],
    batch_id: int,
    ledger_table: str = "__stream_batches",
) -> bool:
    """Exactly-once streaming micro-batch publish into a JDBC target —
    the database twin of :func:`streaming.ingest.idempotent_batch_publish`
    (where the commit record is an atomic directory rename, here it is
    a PRIMARY KEY row).

    One server-side transaction: record ``batch_id`` in the ledger,
    ``INSERT INTO target SELECT … FROM staging``, ``DROP`` staging. A
    REPLAYED batch (crash after the sink ran but before the streaming
    checkpoint committed — Structured Streaming re-runs the same
    ``batch_id`` on restart) violates the ledger's PRIMARY KEY, the
    server rolls back the WHOLE transaction, and the replay becomes a
    no-op: returns ``False``, target rows exactly once. The check is
    enforced BY the database inside the same transaction — there is no
    read-then-write race window, and it needs no driver-specific
    fetch support (works over any DBAPI connection, including
    statement-buffering shims).

    Replay detection is by exception shape: ``IntegrityError`` (DBAPI
    standard) or a message carrying a known duplicate-key marker; any
    other failure re-raises after rollback. Create the ledger once with
    :func:`ledger_ddl`. Returns True iff this call published the batch.
    """
    _check_ident(ledger_table)
    conn = connect()
    try:
        cur = conn.cursor()
        cur.execute(
            f"INSERT INTO {_quote_ident(ledger_table)} (\"batch_id\") "
            f"VALUES ({int(batch_id)})"
        )
        for stmt in build_insert_select(staging, target, columns):
            cur.execute(stmt)
        conn.commit()
        return True
    except Exception as exc:  # noqa: BLE001 - classified below
        conn.rollback()
        msg = str(exc)
        if type(exc).__name__ == "IntegrityError" or any(
            m in msg for m in _DUPLICATE_KEY_MARKERS
        ):
            return False  # replayed batch: already committed, no-op
        raise
    finally:
        conn.close()


def jdbc_stream_sink(
    connect,
    target: str,
    columns: list[str],
    stage_batch,
    ledger_table: str = "__stream_batches",
):
    """Build a ``foreachBatch`` body that loads every streaming
    micro-batch into a JDBC target exactly-once — the one-call form of
    the reference's flagship live path (streaming records → worker
    inserts → all-or-nothing transactional reduce,
    ``mapreduce.go:54-105`` + ``dbtransposer.go:290-364``).

    ``stage_batch(batch_df, staging_table)`` materializes the batch
    into a fresh staging table, ``stream_batch_<batch_id>__staging``:
    deployments pass a thin wrapper over
    ``batch_df.write.jdbc(..., _quote_ident(staging_table))`` (parallel,
    one connection per partition) — the QUOTED name, because the publish
    quotes it and the database case-folds a raw one (see
    :func:`publish_jdbc_atomic`); tests use a driver-side INSERT shim.
    Then :func:`publish_stream_batch_staged` commits staging + the
    ``batch_id`` ledger row in ONE server transaction — a replayed
    batch (restart, or full checkpoint loss) rolls back on the
    ledger's PRIMARY KEY and its orphaned staging table is dropped
    here, so the target holds every record exactly once no matter how
    many times Structured Streaming re-delivers.

    Returns a ``batch_fn`` for
    :func:`streaming.ingest.write_stream_batches`. Create the ledger
    once with :func:`ledger_ddl`.
    """
    _check_ident(target)
    _check_ident(ledger_table)

    def _sink(batch_df, batch_id: int) -> None:
        staging = f"stream_batch_{int(batch_id)}__staging"
        stage_batch(batch_df, staging)
        committed = publish_stream_batch_staged(
            connect, staging, target, columns, batch_id, ledger_table=ledger_table
        )
        if not committed:
            # replay: the publish rolled back wholesale, leaving OUR
            # fresh staging table as litter — clear it so re-delivered
            # batches never accumulate orphan tables
            conn = connect()
            try:
                cur = conn.cursor()
                cur.execute(f"DROP TABLE IF EXISTS {_quote_ident(staging)}")
                conn.commit()
            finally:
                conn.close()

    return _sink


def publish_jdbc_atomic(
    df: DataFrame,
    url: str,
    target_table: str,
    user: str | None = None,
    password: str | None = None,
    driver: str = "org.postgresql.Driver",
    connect=None,
) -> int:
    """Load ``df`` into ``target_table`` with all-or-nothing visibility.

    Phase 1 (parallel): ``df.write.jdbc`` into the fresh staging table
    ``<target_table>__staging`` — one connection per partition of
    ``df`` (repartition before calling to change the parallelism),
    multi-row batches of Spark's default 1000 rows (the reference's live
    path sends 1 row per INSERT, ``dbtransposer-schema.go:119-142``;
    batched writes are strictly better). Any task failure aborts the job
    with the target untouched.
    Spark gets the QUOTED staging name, the one phase 2 uses: a raw
    name would be case-folded by the database (upper in Derby, lower in
    Postgres), and phase 2 would then not find the table.

    Phase 2 (driver, one transaction): ``INSERT INTO target SELECT``
    + ``DROP`` staging — the O15 atomic publish.

    ``connect`` is a zero-arg callable returning a DBAPI connection for
    phase 2 (e.g. ``psycopg2.connect`` partial); required because the
    JVM JDBC writer cannot span a cross-statement transaction. Returns
    the published row count, from an ``Observation`` on the staging
    write (as :func:`publish_parquet_atomic` counts), so the staging
    table is never read back.
    """
    staging = f"{_check_ident(target_table)}__staging"
    if connect is None:
        raise ValueError("publish_jdbc_atomic requires `connect` for the atomic publish phase")

    props = {"driver": driver}
    if user is not None:
        props["user"] = user
    if password is not None:
        props["password"] = password
    rows = Observation()
    df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").jdbc(
        url, _quote_ident(staging), properties=props
    )
    publish_staged(connect, staging, target_table, df.columns)
    return rows.get["n"]


def publish_parquet_atomic(df: DataFrame, final_dir: str) -> int:
    """All-or-nothing parquet publish (O15 semantics for file targets).

    Writes to the staging directory ``<final_dir>.__staging__`` first —
    any task failure leaves the final path untouched (Spark's own output
    commit protocol already guarantees no partial files *within* the
    staging write) — then promotes staging → final via directory renames
    on the driver: the file-sink equivalent of the reference's
    commit-every/rollback-every reduce (``dbtransposer.go:290-364``).

    Atomicity contract (precise): readers never see a *mix* of old and
    new files, but when ``final_dir`` already exists the promotion is
    two renames (final→old, staging→final) and ``final_dir`` is absent
    for the instant between them — a reader opening the path exactly
    then fails and must retry, it cannot read partial data. POSIX has
    no portable atomic directory *swap*; deployments that need a truly
    gap-free flip should point readers at a symlink (or a metastore
    location) and retarget that instead. Staging sits next to
    ``final_dir``, in the same directory, so the renames never cross a
    filesystem. Returns the published row count.

    Scope: the contract is READER-vs-writer atomicity. CONCURRENT
    writers to the same ``final_dir`` are out of scope by design (the
    staging path is fixed, so racing publishes would clobber each
    other's staging): serialize them, e.g. as the successive micro-
    batches of one streaming query.

    The returned count comes from an ``Observation`` on the staging
    write: it rides the write's own job, so the publish is one Spark job
    and never re-reads what it wrote.
    """
    staging = final_dir.rstrip("/") + ".__staging__"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    rows = Observation()
    df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(staging)
    n = rows.get["n"]
    old = final_dir.rstrip("/") + ".__old__"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(final_dir):
        os.rename(final_dir, old)
    os.rename(staging, final_dir)
    if os.path.exists(old):
        shutil.rmtree(old)
    return n


def archive_input(input_path: str, destination_dir: str) -> str:
    """Copy the input file into ``destination_dir`` (created on demand),
    then delete the source (O19, ``fileloader.go:263-328``). Returns the
    archived path. Streaming ingest archives through here too:
    ``pipeline.run_stream_job`` moves each input its checkpoint logged
    as read, once the stream has ended."""
    os.makedirs(destination_dir, exist_ok=True)
    dest = os.path.join(destination_dir, os.path.basename(input_path))
    shutil.copy2(input_path, dest)
    os.remove(input_path)
    return dest
