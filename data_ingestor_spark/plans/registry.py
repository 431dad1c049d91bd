"""Declared-query registry.

Every operator the engine claims (SURVEY.md §2.2) registers here as a
named query: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus,
where SQL-expressible, an equivalent ANSI/DuckDB oracle SQL string. The
driver runs both at sf=0.01 and compares row-count + schema +
order-insensitive value hash; ``__spark_entry__.py`` re-exports this
registry.

Hash-match discipline (SURVEY §2.2 tail): floating aggregates go
through exact decimal arithmetic (``dec_sum``) or explicit rounding so
Spark and DuckDB produce bit-identical values; every computed column is
aliased identically on both sides; top-k queries carry a unique-key
tie-break.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


#: name -> spec; populated by the @query decorator at import time.
REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a declared query. ``oracle=None`` → rows-only check."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-timezone TIMESTAMP
    regardless of how the driver generated the parquet:

    - TIMESTAMP(NANOS) (read as bigint under ``nanosAsLong``) → truncating
      DIV 1000 to micros, matching how DuckDB/Arrow downscale nanos;
    - TIMESTAMP_NTZ (micros, ``isAdjustedToUTC=false``) → cast to TIMESTAMP,
      interpreting the naive value in the session timezone (UTC), which is
      exactly DuckDB's naive-timestamp semantics.

    Downstream plans can then rely on epoch functions (``unix_micros``),
    interval arithmetic, and streaming watermarks uniformly. The cast is a
    metadata-only projection — still a distributed vectorized scan.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: (applicationId, sf_dir, name) -> DataFrame handle. Metadata-only
#: memo (r13 optimization, guide §5/§7.3 driver-side work): each
#: ``spark.read.parquet`` call re-resolves the DataSource and re-reads
#: the parquet footer for schema — measured ~120-150 ms per call on
#: EVERY call (Spark caches the file LISTING session-wide, not the
#: reader), and the bench's 16 headline keys make ~40 such calls. The
#: memo holds the immutable DataFrame HANDLE (unresolved scan + schema)
#: — the catalog-registration shape every warehouse session has — so
#: every action still scans the parquet files; no rows, no results, no
#: computed state are cached. Keyed by applicationId so a new session
#: (different reader configs) never reuses a stale handle; cleared on
#: app change like ext/graph._EDGE_CACHE.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (TESTDATA.md layout).

    ``events.parquet`` has shipped as TIMESTAMP(NANOS) in some testdata
    generations (which Spark's parquet reader rejects without
    ``nanosAsLong``) and micros TIMESTAMP_NTZ in others; both layouts are
    normalized to a session-timezone TIMESTAMP by
    :func:`normalize_event_ts`.

    The returned handle is memoized per (session, sf_dir, table) —
    see :data:`_TABLE_CACHE`; DataFrames are immutable so sharing the
    handle across queries is safe, and the underlying files are
    re-scanned by every action exactly as before.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if key[0] not in {k[0] for k in _TABLE_CACHE}:
        _TABLE_CACHE.clear()  # at most one live session's handles
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _TABLE_CACHE[key] = df
    return df


def scratch_dir(*parts: str) -> str:
    """Session-stable scratch path for queries that materialize an
    intermediate copy (CSV/ORC/partitioned-layout roundtrips, streaming
    input dirs).

    Deterministic *within* a process so repeated invocations reuse one
    directory (mode=overwrite) instead of accumulating copies, but keyed
    by uid+pid so (a) two concurrent sessions running the same query at
    the same sf never clobber each other's scratch mid-read and (b) the
    path under a world-writable /tmp is not predictable/pre-creatable by
    another local user across runs.

    The per-process root is removed at interpreter exit (atexit) so
    repeated runs don't accumulate table copies in /tmp; a same-pid
    re-registration is guarded by the module flag.
    """
    import atexit
    import os
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), f"spark_graft_{os.getuid()}_{os.getpid()}")
    global _SCRATCH_CLEANUP_REGISTERED
    if not _SCRATCH_CLEANUP_REGISTERED:
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_CLEANUP_REGISTERED = True
    base = os.path.join(root, *parts)
    os.makedirs(base, exist_ok=True)
    return base


def source_split(sf_dir: str, table: str, name: str, build: Callable[[str], None]) -> str:
    """Scratch copy of ``table`` re-laid out for a streaming key, built
    once per source state: returns the split directory, calling
    ``build(split_dir)`` to (re)write it first whenever the marker does
    not match.

    The marker is the source's absolute path plus the name, size and
    mtime of every file under ``<sf_dir>/<table>.parquet``, so neither a
    second sf dir with the same basename nor a regenerated parquet at
    the same path reuses a stale split. The marker is removed before a
    rebuild and written after it, so a build that fails part-way is
    never taken for a finished one.
    """
    import os
    import shutil

    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    if os.path.isdir(src):
        files = sorted(os.path.join(r, f) for r, _, fs in os.walk(src) for f in fs)
    else:
        files = [src] if os.path.exists(src) else []
    stats = [(os.path.relpath(p, os.path.dirname(src)), os.stat(p)) for p in files]
    tag = src + "|" + ";".join(f"{p}:{st.st_size}:{st.st_mtime_ns}" for p, st in stats)
    root = scratch_dir(f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")
    split, marker = os.path.join(root, "split"), os.path.join(root, "_SPLIT_DONE")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == tag:
                return split
        os.remove(marker)
    shutil.rmtree(split, ignore_errors=True)
    build(split)
    with open(marker, "w") as fh:
        fh.write(tag)
    return split


_SCRATCH_CLEANUP_REGISTERED = False


# --- hash-stable numeric helpers ---------------------------------------------


def dec(colname: str, scale: int = 2) -> F.Column:
    """Exact decimal view of a BASE double column whose values carry at
    most ``scale`` decimals (e.g. money) — the cast then never rounds, so
    Spark (shortest-string HALF_UP) and DuckDB (binary scaling) agree.

    Discipline: never cast a *computed* double expression to decimal —
    Spark and DuckDB resolve near-tie roundings differently. Cast the
    base columns first and do the arithmetic in decimal (exact in both).

    ``try_cast``, not ``cast``: a double beyond DECIMAL(18,s) range
    (a corrupt 1e308 sentinel in a metric column) must become NULL —
    skipped by aggregates like any SQL NULL — instead of failing the
    whole job under ANSI mode (NUMERIC_VALUE_OUT_OF_RANGE; found by
    the extreme-magnitude rows of the registry totality gate,
    ``tests/test_totality.py``). On in-range data the two casts are
    identical, so every oracle hash is unchanged.
    """
    return F.expr(f"try_cast({colname} as decimal(18,{scale}))")


def dec_sum(colname: str, alias: str, scale: int = 2) -> F.Column:
    """SUM over exact decimals, surfaced as double.

    Decimal addition is exact → the sum is engine-independent; the final
    decimal→double cast is correctly rounded on both engines. Oracle
    twin: ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)``.
    """
    return F.sum(dec(colname, scale)).cast("double").alias(alias)
