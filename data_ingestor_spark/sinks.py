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

import contextlib
import ctypes
import errno
import glob
import os
import re
import shutil
import sys
import tempfile
import time

from pyspark.sql import DataFrame

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
    from pyspark.sql import functions as F

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


def export_excel(df: DataFrame, path: str, sheet: str = "Sheet1") -> None:
    """Excel export (O17): header row + stringified cell grid on ``sheet``.

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
    write_sheet(path, grid, sheet=sheet)


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
    staging_prefix: str = "stream_batch",
):
    """Build a ``foreachBatch`` body that loads every streaming
    micro-batch into a JDBC target exactly-once — the one-call form of
    the reference's flagship live path (streaming records → worker
    inserts → all-or-nothing transactional reduce,
    ``mapreduce.go:54-105`` + ``dbtransposer.go:290-364``).

    ``stage_batch(batch_df, staging_table)`` materializes the batch
    into a fresh staging table: deployments pass a thin wrapper over
    ``batch_df.write.jdbc(..., staging_table)`` (parallel, one
    connection per partition); tests use a driver-side INSERT shim.
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
        staging = f"{staging_prefix}_{int(batch_id)}__staging"
        _check_ident(staging)
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
    staging_table: str | None = None,
    batchsize: int = 1000,
    num_partitions: int | None = None,
    connect=None,
) -> int:
    """Load ``df`` into ``target_table`` with all-or-nothing visibility.

    Phase 1 (parallel): ``df.write.jdbc`` into a fresh staging table —
    one connection per partition, multi-row batches of ``batchsize``
    (the reference's live path sends 1 row per INSERT,
    ``dbtransposer-schema.go:119-142``; batched writes are strictly
    better). Any task failure aborts the job with the target untouched.

    Phase 2 (driver, one transaction): ``INSERT INTO target SELECT``
    + ``DROP`` staging — the O15 atomic publish.

    ``connect`` is a zero-arg callable returning a DBAPI connection for
    phase 2 (e.g. ``psycopg2.connect`` partial); required because the
    JVM JDBC writer cannot span a cross-statement transaction. Returns
    the published row count.
    """
    staging = staging_table or f"{target_table}__staging"
    _check_ident(target_table)
    _check_ident(staging)
    if connect is None:
        raise ValueError("publish_jdbc_atomic requires `connect` for the atomic publish phase")

    writer = df if num_partitions is None else df.repartition(num_partitions)
    props = {"driver": driver, "batchsize": str(batchsize)}
    if user is not None:
        props["user"] = user
    if password is not None:
        props["password"] = password
    writer.write.mode("overwrite").jdbc(url, staging, properties=props)

    n = df.sparkSession.read.jdbc(url, staging, properties=props).count()
    publish_staged(connect, staging, target_table, df.columns)
    return n


def publish_parquet_atomic(df: DataFrame, final_dir: str, staging_dir: str | None = None) -> int:
    """All-or-nothing parquet publish (O15 semantics for file targets).

    Writes to a staging directory first — any task failure leaves the
    final path untouched (Spark's own output commit protocol already
    guarantees no partial files *within* the staging write) — then
    promotes staging → final via directory renames on the driver:
    the file-sink equivalent of the reference's commit-every/
    rollback-every reduce (``dbtransposer.go:290-364``).

    Atomicity contract (precise): readers never see a *mix* of old and
    new files, but when ``final_dir`` already exists the promotion is
    two renames (final→old, staging→final) and ``final_dir`` is absent
    for the instant between them — a reader opening the path exactly
    then fails and must retry, it cannot read partial data. POSIX has
    no portable atomic directory *swap*; deployments that need a truly
    gap-free flip should point readers at a symlink (or a metastore
    location) and retarget that instead. Both staging and final must be
    on the same filesystem — ``os.rename`` across devices raises
    ``EXDEV`` — validated up front so the failure happens before any
    data is written. Returns the published row count.

    Scope: the contract is READER-vs-writer atomicity. CONCURRENT
    writers to the same ``final_dir`` are out of scope by design (the
    default staging path is fixed, so racing publishes would clobber
    each other's staging): serialize them externally, or use
    ``publish_versioned`` — whose per-writer staging names and version
    reservation make multi-writer publish safe — and read via its
    ``_LATEST`` pointer.

    The returned count comes from an ``Observation`` on the staging
    write: it rides the write's own job, so the publish is one Spark job
    and never re-reads what it wrote.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    staging = staging_dir or final_dir.rstrip("/") + ".__staging__"
    final_parent = os.path.dirname(os.path.abspath(final_dir.rstrip("/"))) or "."
    staging_parent = os.path.dirname(os.path.abspath(staging.rstrip("/"))) or "."

    def _nearest_existing(path: str) -> str:
        # The parents may not exist yet (the Spark staging write creates
        # them); validate st_dev on the nearest existing ancestor so a
        # brand-new nested target path is not rejected.
        p = path
        while not os.path.exists(p):
            parent = os.path.dirname(p)
            if parent == p:
                break
            p = parent
        return p

    if os.stat(_nearest_existing(final_parent)).st_dev != os.stat(
        _nearest_existing(staging_parent)
    ).st_dev:
        raise ValueError(
            f"staging_dir {staging!r} and final_dir {final_dir!r} are on different "
            "filesystems; the atomic rename promotion requires the same filesystem"
        )
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
    archived path. For streaming ingest the same behavior comes from the
    file source's ``cleanSource=archive`` option (see ``streaming``)."""
    os.makedirs(destination_dir, exist_ok=True)
    dest = os.path.join(destination_dir, os.path.basename(input_path))
    shutil.copy2(input_path, dest)
    os.remove(input_path)
    return dest


def compact_parquet(
    spark,
    data_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    staging_dir: str | None = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory into files of
    roughly ``target_file_bytes`` each, publishing atomically via
    :func:`publish_parquet_atomic`. Returns (files_before, files_after).

    The warehouse-maintenance chore every streaming/incremental sink
    needs: micro-batches and per-task writers leave thousands of small
    files whose open/footer costs dominate scans at 100 TB. File count
    is sized from the ACTUAL on-disk bytes (not row counts), coalesce —
    not repartition — so compaction itself is shuffle-free.

    Flat layouts only: a hive-partitioned tree (``key=value`` dirs) is
    refused rather than silently flattened — rewriting it unpartitioned
    would destroy the directory-level pruning the layout exists for
    (compact those per-partition, or rewrite with ``partitionBy``).
    """
    for dp, dirs, _ in os.walk(data_dir):
        for d in dirs:
            if "=" in d:
                raise ValueError(
                    f"{data_dir!r} is hive-partitioned ({os.path.join(dp, d)!r}); "
                    "compact each partition directory individually so the "
                    "partitioned layout (and its pruning) is preserved"
                )
    before = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(data_dir)
        for f in fs
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    if not before:
        raise ValueError(f"no parquet files under {data_dir!r}")
    total_bytes = sum(os.path.getsize(p) for p in before)
    n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
    df = spark.read.parquet(data_dir)
    publish_parquet_atomic(df.coalesce(n_files), data_dir, staging_dir=staging_dir)
    after = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(data_dir)
        for f in fs
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    return len(before), len(after)


# --- versioned snapshot publish (poor-man's time travel) -----------------------


def publish_versioned(df: DataFrame, table_dir: str) -> int:
    """Append-only snapshot publish: each call writes a NEW immutable
    version directory ``v=N`` and then atomically flips a ``_LATEST``
    pointer file to it — the minimal form of the snapshot/time-travel
    contract a table format (Iceberg/Delta) provides, built from the
    same staged-write discipline as publish_parquet_atomic.

    Properties: concurrent readers of ``read_latest`` never see a
    partial snapshot (the pointer flips only after the version dir is
    fully written, via write-temp + os.replace which POSIX guarantees
    atomic); old versions stay readable (``read_version``) until
    ``vacuum_versions`` prunes them; a crashed writer leaves at most an
    orphaned unreferenced version dir, never a corrupt table. Returns
    the new version number.

    Concurrent writers: the version number is reserved with an atomic
    ``os.mkdir`` (EEXIST ⇒ another writer took N, retry with N+1), so
    two writers can never publish into the same ``v=N``, and the
    ``_LATEST`` flip is MONOTONIC (``_flip_latest_monotonic``): a
    writer only moves the pointer forward, so interleaved publishes can
    never leave ``_LATEST`` naming an older snapshot than one already
    published — readers see a complete snapshot at all times and the
    highest published version wins regardless of flip order.

    At 100 TB the same layout works on an object store with two
    substitutions: the version reservation and pointer write become
    conditional PUTs (the monotonic-flip compare-and-set maps 1:1 onto
    S3 conditional writes / GCS generation preconditions), and vacuum
    respects reader lease times.
    """
    os.makedirs(table_dir, exist_ok=True)
    existing = [
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    ]
    version = (max(existing) + 1) if existing else 0
    # per-writer staging: pid.monotonic_ns, the same uniqueness rule as
    # the CAS pointer scratch (VERDICT r10) — a pid-only name let two
    # SAME-PROCESS writers racing the same version share one staging
    # dir (B's overwrite clobbers A's files mid-write; A's rename then
    # strands B with ENOENT), breaking the docstring's concurrent-
    # writer contract for threads.  Unique names cannot collide, so
    # the old exists/rmtree reclaim is gone; crashed-writer staging
    # litter is pruned by vacuum_versions once it goes stale.
    staging = os.path.join(
        table_dir,
        f"_staging_v{version}_{os.getpid()}.{time.monotonic_ns()}",
    )
    df.write.mode("overwrite").parquet(staging)
    # Liveness vs vacuum_versions (ADVICE r11): its age gate judges a
    # staging dir dead when NOTHING in the tree was written for
    # stale_staging_s — a writer that completes df.write and then stalls
    # LONGER than that (GC pause, scheduler preemption) loses its
    # staging and would crash ENOENT at the rename, losing the publish.
    # Defense in depth: refresh the root mtime right before renaming
    # (narrows the window from write-duration to microseconds), and if
    # the staging is gone anyway, REBUILD it and retry — the publish
    # must survive an over-aggressive vacuum, not just avoid it.
    rebuilds = 0
    while True:
        vdir = os.path.join(table_dir, f"v={version}")
        try:
            os.mkdir(vdir)  # atomic reservation: EEXIST ⇒ version taken
        except FileExistsError:
            version += 1
            continue
        try:
            os.utime(staging)
            # rename onto the just-reserved EMPTY dir: atomic on POSIX
            os.rename(staging, vdir)  # version dirs immutable once named
        except FileNotFoundError:
            os.rmdir(vdir)  # release the reservation before rebuilding
            if rebuilds >= 3:  # can't happen twice with a fresh mtime;
                raise  # cap defends against a pathological vacuum loop
            rebuilds += 1
            df.write.mode("overwrite").parquet(staging)
            continue
        break
    _flip_latest_monotonic(table_dir, version)
    return version


_AT_FDCWD = -100  # linux/include/uapi/linux/fcntl.h
_RENAME_NOREPLACE = 1  # linux/include/uapi/linux/fs.h


def _load_renameat2():
    """``renameat2(2)`` via libc, or None where unavailable (non-Linux,
    pre-3.15 kernels, static libc without the symbol)."""
    if not sys.platform.startswith("linux"):
        return None
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        fn = libc.renameat2
    except (OSError, AttributeError):
        return None
    fn.argtypes = [
        ctypes.c_int,
        ctypes.c_char_p,
        ctypes.c_int,
        ctypes.c_char_p,
        ctypes.c_uint,
    ]
    fn.restype = ctypes.c_int
    return fn


_RENAMEAT2 = _load_renameat2()


def _rename_noreplace(src: str, dst: str) -> None:
    """``os.rename`` that refuses to replace an existing ``dst``.

    POSIX ``rename(2)`` silently replaces an EMPTY target directory —
    exactly the hazard in the lock give-back path, where a third
    writer's fresh ``mkdir`` at the lock path would be clobbered and
    that writer co-admitted into the critical section (ADVICE r7).
    On Linux ``renameat2(2)`` with ``RENAME_NOREPLACE`` closes this
    atomically (raises :class:`FileExistsError` when ``dst`` exists);
    elsewhere fall back to plain rename, which keeps the documented
    microsecond-scale residual on those platforms only."""
    if _RENAMEAT2 is not None:
        rc = _RENAMEAT2(
            _AT_FDCWD,
            os.fsencode(src),
            _AT_FDCWD,
            os.fsencode(dst),
            _RENAME_NOREPLACE,
        )
        if rc != 0:
            err = ctypes.get_errno()
            # OSError(errno, ...) maps to the matching subclass
            # (FileExistsError for EEXIST), like os.rename itself
            raise OSError(err, os.strerror(err), src, None, dst)
        return
    os.rename(src, dst)


def _read_latest(table_dir: str) -> int:
    """Current ``_LATEST`` pointer value, or -1 if absent/corrupt."""
    try:
        with open(os.path.join(table_dir, "_LATEST")) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return -1


def _remove_lock_dir(path: str) -> bool:
    """Remove a lock/tombstone directory we own outright (a broken
    stale lock, or our own scratch), owner-token files included —
    plain ``rmdir`` would fail ENOTEMPTY on the token."""
    try:
        for name in os.listdir(path):
            with contextlib.suppress(OSError):
                os.unlink(os.path.join(path, name))
        os.rmdir(path)
        return True
    except OSError:
        return False


def _release_owned_lock(table_dir: str, lock: str, token: str) -> None:
    """Ownership-checked lock release (ADVICE r8): unlink OUR uniquely
    named token file, then rmdir. In a foreign lock dir (another writer
    re-acquired after our lock was broken) the unlink fails ENOENT and
    the rmdir fails ENOTEMPTY on their token — a holder can never
    remove a lock it did not create. If our dir was renamed to a
    breaker's tombstone, find it by token and clean it there so the
    give-back cannot later install an orphan lock.

    The retry budget must outlast the breaker's give-back cadence
    (5 ms sleeps in ``try_cas_latest``): a ~100 ms deadline of 5 ms
    retries lets the common mid-give-back race resolve in the
    releaser's favor, instead of the releaser exiting after a few
    milliseconds and the give-back re-installing a lock whose owner
    already finished — which would block writers for up to
    ``stale_lock_s`` (liveness-only, but avoidable; ADVICE r9)."""
    release_deadline = time.monotonic() + 0.1
    while True:
        try:
            os.unlink(os.path.join(lock, token))
        except OSError:
            pass
        else:
            # only OUR dir could have held our token; it is empty now
            # unless a breaker raced the rmdir — then ENOENT/ENOTEMPTY
            # keeps every other writer's lock safe
            with contextlib.suppress(OSError):
                os.rmdir(lock)
            return
        # a breaker may have renamed our live dir to a tombstone while
        # it spins in the give-back loop — reclaim it by token
        try:
            tombs = [n for n in os.listdir(table_dir) if ".broken." in n]
        except OSError:
            return
        for name in tombs:
            tomb = os.path.join(table_dir, name)
            try:
                os.unlink(os.path.join(tomb, token))
            except OSError:
                continue  # not ours (or the give-back raced us — retry)
            with contextlib.suppress(OSError):
                os.rmdir(tomb)
            return
        if not tombs:
            # no trace anywhere: a breaker legitimately broke and
            # cleaned our stale lock — nothing left to release
            return
        if time.monotonic() > release_deadline:
            # give-back stuck past the budget: leave the tombstone as
            # litter (a later breaker clears it after stale_lock_s)
            return
        time.sleep(0.005)  # give-back mid-flight; re-check the lock path


def try_cas_latest(
    table_dir: str, expected: int, new_version: int, stale_lock_s: float = 10.0
) -> bool:
    """Atomic compare-and-set of the ``_LATEST`` pointer: write
    ``new_version`` iff the pointer still reads ``expected`` (-1 for
    absent). This is the publish contract's one synchronization seam —
    on an object store it is exactly one conditional PUT (S3 If-Match /
    ``If-None-Match: *`` for the -1 case, GCS
    ``x-goog-if-generation-match``); the POSIX default below emulates
    it with a rename-mutex (atomic and visible across processes).

    Ownership (ADVICE r8): each acquisition creates a scratch dir
    containing a uniquely named owner-token file and atomically renames
    it onto the lock path — a lock dir is therefore never empty, and
    release is ownership-checked (unlink our own token, then rmdir).
    A holder whose lock was broken can never remove a DIFFERENT
    writer's lock: its token unlink fails ENOENT there and the rmdir
    fails ENOTEMPTY on the other writer's token. Instead it hunts down
    the tombstone carrying its token and cleans that, so a breaker's
    give-back cannot re-install a lock whose owner already finished.

    Lock hygiene: a lock directory older than ``stale_lock_s`` is
    presumed orphaned by a crashed writer. Breaking it must itself be
    atomic — two waiters may both judge the lock stale, and a naive
    check-then-rmdir lets waiter B delete a FRESH lock that writer C
    re-acquired after waiter A's rmdir (the TOCTOU that would admit two
    writers into the critical section at once). Instead each breaker
    ``os.rename``\\ s the lock to a unique tombstone: exactly one rename
    wins (the loser gets ENOENT and re-races), and the winner removes
    only its own tombstone, never a live lock. The rename serializes
    breaker-vs-breaker but not breaker-vs-fresh-acquirer: between the
    staleness read and the rename, the stale holder can release and a
    FRESH writer re-acquire, so after winning the rename the breaker
    re-checks the TOMBSTONE's mtime (authoritative — rename preserves
    it and the dir can no longer change owners) and, if it took a live
    lock, renames it straight back and re-waits. The give-back narrows
    the race to the microseconds between the two renames (vs the full
    seconds-scale staleness window) — within it a third writer's fresh
    acquire could occupy the lock path; on Linux the give-back uses
    ``renameat2(RENAME_NOREPLACE)`` so that fresh lock is never
    replaced (the breaker waits for it to release instead). That
    NARROWS — it does not close — the co-admission residual: while the
    breaker spins in the give-back loop, the displaced fresh holder
    (its lock at the tombstone path) and the third writer (at the lock
    path) can coexist until the give-back resolves. The owner tokens
    make the residual liveness-only — no writer can remove another's
    live lock, and the worst case is an orphan lock dir that a later
    breaker clears after ``stale_lock_s``. On platforms without
    ``renameat2`` the plain-rename fallback keeps a replace residual
    for EMPTY target dirs only (token-bearing lock dirs are non-empty,
    so ``rename(2)`` refuses with ENOTEMPTY); the object-store CAS
    (one conditional PUT, no lock at all) has no such window
    anywhere."""
    lock = os.path.join(table_dir, "_LATEST.lock")
    uniq = f"{os.getpid()}.{time.monotonic_ns()}"
    token = f"owner.{uniq}"
    scratch = os.path.join(table_dir, f"_LATEST.lock.acq.{uniq}")
    os.mkdir(scratch)
    with open(os.path.join(scratch, token), "w"):
        pass
    deadline = time.monotonic() + stale_lock_s
    try:
        while True:
            try:
                # atomic acquire WITH the token pre-installed: no
                # empty-dir window for a concurrent release or breaker
                # to misjudge.  Re-stamp the scratch dir first: rename
                # preserves the inode mtime, so a waiter that queued T
                # seconds would otherwise install a lock born T seconds
                # "old" — after a crashed-holder recovery the winner's
                # lock would be instantly stale and the next waiter
                # would break it (took_live false on the same old
                # mtime), co-admitting two writers (ADVICE r9).  The
                # utime makes the lock's mtime the ACQUISITION time.
                os.utime(scratch)
                _rename_noreplace(scratch, lock)
                break
            except OSError as exc:
                if not isinstance(exc, FileExistsError) and exc.errno not in (
                    errno.EEXIST,
                    errno.ENOTEMPTY,
                ):
                    raise  # real failure, not contention
            try:
                stale = os.path.getmtime(lock) < time.time() - stale_lock_s
            except OSError:
                continue  # holder released between EEXIST and getmtime
            if stale:
                tombstone = f"{lock}.broken.{os.getpid()}.{time.monotonic_ns()}"
                try:
                    os.rename(lock, tombstone)  # atomic: one breaker wins
                except OSError:
                    continue  # holder released or another breaker won
                try:
                    took_live = (
                        os.path.getmtime(tombstone) >= time.time() - stale_lock_s
                    )
                except OSError:
                    took_live = False
                if took_live:
                    # a fresh writer re-acquired between the staleness
                    # read and the rename — give the live lock back and
                    # re-wait (its mtime is fresh, so the staleness
                    # check cannot immediately re-break it).  The
                    # give-back must never clobber a THIRD writer's
                    # fresh acquire at the lock path (NOREPLACE rename;
                    # on EEXIST wait for that occupant to release) and
                    # must NEVER destroy the live lock it is holding:
                    # on persistent failure the tombstone is left as
                    # litter — breakers only ever remove their OWN
                    # tombstones, so litter is harmless, whereas the
                    # old rmdir fallback deleted a lock just proven
                    # fresh and silently dropped mutual exclusion
                    # (ADVICE r7).  The displaced holder can also
                    # reclaim its tombstone by token (release path);
                    # the give-back then sees ENOENT and stops.
                    giveback_deadline = time.monotonic() + stale_lock_s
                    while True:
                        try:
                            _rename_noreplace(tombstone, lock)
                            break
                        except FileExistsError:
                            if time.monotonic() > giveback_deadline:
                                break  # leave tombstone litter
                            time.sleep(0.005)
                        except OSError:
                            break  # holder reclaimed it, or litter
                    continue
                # genuinely orphaned: clear it, crashed-writer token
                # and all
                _remove_lock_dir(tombstone)
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"_LATEST.lock in {table_dir!r} held past the stale "
                    f"window ({stale_lock_s}s) — concurrent writer stuck?"
                )
            time.sleep(0.01)
    except BaseException:
        _remove_lock_dir(scratch)  # never acquired — leave no litter
        raise
    try:
        if _read_latest(table_dir) != expected:
            return False  # pointer moved since the caller's read
        # scratch name reuses the acquisition's uniq (pid.monotonic_ns):
        # a pid-only suffix collides when two same-process writers are
        # co-admitted through the stale-break residual — writer A's
        # os.replace consumes the shared file and B crashes with
        # FileNotFoundError mid-publish (VERDICT r10).  With per-writer
        # scratch both complete and the last CAS wins, fail-safe.
        pointer_tmp = os.path.join(table_dir, f"_LATEST.tmp.{uniq}")
        with open(pointer_tmp, "w") as fh:
            fh.write(str(new_version))
        # atomic flip (readers stay lock-free)
        os.replace(pointer_tmp, os.path.join(table_dir, "_LATEST"))
        return True
    finally:
        # ownership-checked: removes only the lock (or tombstone) that
        # carries OUR token; a paused holder whose lock was broken and
        # cleaned past the stale window releases as a silent no-op
        _release_owned_lock(table_dir, lock, token)


def _flip_latest_monotonic(
    table_dir: str,
    version: int,
    stale_lock_s: float = 10.0,
    try_cas=None,
) -> bool:
    """Move the ``_LATEST`` pointer to ``version`` unless it already
    names a higher one — read-compare-CAS in a loop, which turns
    last-flip-wins into monotonic-latest under concurrent writers.
    ``try_cas(table_dir, expected, new) -> bool`` is injectable so the
    object-store implementation (one conditional PUT) or a fault-
    injecting test double can replace the POSIX mkdir-mutex default.
    A failed CAS means another writer moved the pointer between our
    read and our write: re-read and re-decide (their version may
    already be higher than ours). Returns True if the pointer moved."""
    if try_cas is None:
        def try_cas(td, exp, new):  # noqa: ANN001 - seam signature
            return try_cas_latest(td, exp, new, stale_lock_s=stale_lock_s)

    while True:
        current = _read_latest(table_dir)
        if current >= version:
            return False  # a newer (or same) snapshot already published
        if try_cas(table_dir, current, version):
            return True


def latest_version(table_dir: str) -> int:
    with open(os.path.join(table_dir, "_LATEST")) as fh:
        return int(fh.read().strip())


def read_version(spark, table_dir: str, version: int) -> DataFrame:
    """Time-travel read of one immutable snapshot."""
    return spark.read.parquet(os.path.join(table_dir, f"v={version}"))


def read_latest(spark, table_dir: str) -> DataFrame:
    """Read the snapshot the _LATEST pointer names (never a partial one)."""
    return read_version(spark, table_dir, latest_version(table_dir))


def _newest_mtime(path: str) -> float:
    """Newest mtime anywhere under ``path`` (the path itself included).

    The TOP-LEVEL mtime of a Spark staging dir is a liveness lie: the
    output committer writes task files under ``_temporary/...``, so the
    staging root's mtime is touched only at job start and commit — a
    live multi-hour write would look 'stale' at the root while its leaf
    task files are seconds old (code-review finding). Walking for the
    newest leaf makes liveness detection see the actual writes."""
    newest = 0.0
    try:
        newest = os.path.getmtime(path)
    except OSError:
        return newest
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, name)))
            except OSError:
                continue  # entry vanished mid-walk (live writer)
    return newest


#: crashed-writer litter classes vacuum_versions reclaims (age-gated):
#: staging dirs, orphaned pointer scratch files, abandoned lock-acquire
#: scratch dirs, and breaker tombstones whose owner died mid-give-back.
#: Exact-prefix WITH the dot/underscore so the live ``_LATEST`` pointer
#: and a held ``_LATEST.lock`` are never candidates.
_LITTER_PREFIXES = ("_staging_", "_LATEST.tmp.", "_LATEST.lock.acq.", "_LATEST.lock.broken.")


def vacuum_versions(
    table_dir: str, keep: int = 2, stale_staging_s: float = 3600.0
) -> list[int]:
    """Prune all but the newest ``keep`` versions (the _LATEST target is
    always kept). Returns the removed version numbers.

    Also reclaims crashed-writer litter older than ``stale_staging_s``:
    staging dirs (liveness judged by the NEWEST mtime in the whole
    tree — see :func:`_newest_mtime` — so a slow live write whose task
    files are still landing is never raced, however long it runs),
    orphaned ``_LATEST.tmp.*`` pointer scratch (a writer killed between
    scratch write and ``os.replace``; unique per-writer names made this
    litter unbounded without a reclaimer — code-review finding), and
    abandoned lock-acquire scratch / breaker tombstones (a process
    SIGKILLed before its cleanup). All are only ever live for
    microseconds-to-seconds except staging, so the shared age gate is
    conservative for them by orders of magnitude."""
    current = latest_version(table_dir)
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )
    keep_set = set(versions[-keep:]) | {current}
    removed = []
    for v in versions:
        if v not in keep_set:
            shutil.rmtree(os.path.join(table_dir, f"v={v}"))
            removed.append(v)
    now = time.time()
    for d in os.listdir(table_dir):
        if not d.startswith(_LITTER_PREFIXES):
            continue
        path = os.path.join(table_dir, d)
        try:
            if _newest_mtime(path) >= now - stale_staging_s:
                continue  # recently-written somewhere inside: alive
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
        except OSError:
            pass  # writer renamed/cleaned it between list and stat
    return removed
