"""Structured-Streaming file ingest (reference O14 + O19).

The reference's streaming pipeline is a hand-rolled channel/worker-pool
micro-batcher: parser goroutine → bounded record channel → N workers →
collector (``mapreduce/mapreduce.go:54-105``), with the input file
archived after the job (``fileloader/fileloader.go:263-328``). The
Spark-native shape is the Structured Streaming file source:

- discovery + backpressure: ``maxFilesPerTrigger`` bounds each micro-
  batch (the channel-capacity analogue, ``main.go:57``);
- exactly-once: the checkpoint WAL replaces the reference's all-or-
  nothing cross-worker transaction reduce (``dbtransposer.go:290-364``)
  — a failed batch replays, a committed batch never doubles;
- archival: ``cleanSource=archive`` + ``sourceArchiveDir`` moves fully-
  processed inputs, the O19 parity without driver file juggling.

The scan is the SAME json/xml/csv decode the batch ``sources.load`` uses
(``sources.read_records`` over ``spark.readStream``), and flatten/
projection the same ``operators.flatten`` — one logical plan, two
execution modes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_ingestor_spark.operators.flatten import flatten_nested
from data_ingestor_spark.sources.readers import RECORD_FORMATS, read_records


#: micro-batch bound: at most this many new files per trigger
MAX_FILES_PER_TRIGGER = 10


def stream_load(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    array_col: str = "fnumbers",
    columns: list[str] | None = None,
    records_key: str = "Records",
    archive_dir: str | None = None,
    fmt: str = "json",
    row_tag: str = "Record",
    corrupt_col: str | None = None,
) -> DataFrame:
    """Full streaming ingest plan: scan → flatten → whitelist-project —
    the reference's live path (O1/O3+O7+O9) under Structured Streaming.
    Watches ``input_dir`` and decodes ``fmt`` through the same
    ``sources.read_records`` as the batch ``load``: ``"json"`` explodes
    the ``records_key`` array per document; ``"xml"`` reads one row per
    ``row_tag``; ``"csv"`` reads one row per line (flat — the flatten
    step is an identity pass-through when ``array_col`` is absent).
    With ``corrupt_col`` set, quarantined records ride along for the
    sink to count and exclude (the totality contract). Each trigger
    takes at most :data:`MAX_FILES_PER_TRIGGER` files, so one listing
    burst cannot produce an executor-memory-sized batch; with
    ``archive_dir`` set, fully-processed inputs move there."""
    if fmt not in RECORD_FORMATS:
        raise ValueError(f"unsupported streaming ingest format: {fmt!r}")
    reader = spark.readStream.option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option("sourceArchiveDir", archive_dir)
    raw = read_records(
        reader, input_dir, fmt, schema, corrupt_col, records_key=records_key, row_tag=row_tag
    )
    if corrupt_col is not None and columns is not None and corrupt_col not in columns:
        # the whitelist projection would drop the quarantine column;
        # append it so the sink can count-and-exclude (totality contract)
        columns = list(columns) + [corrupt_col]
    return flatten_nested(raw, array_col, columns)


def find_undecodable_files(
    spark: SparkSession, input_dir: str, encoding: str = "utf-8"
) -> list[str]:
    """Distributed byte-level decodability probe: return the paths under
    ``input_dir`` whose bytes do NOT decode as ``encoding``.

    Why this exists: the PERMISSIVE corrupt-column quarantine catches
    RECORD-level damage, but stream-level damage — invalid byte
    sequences — fails the charset decoder before records exist, so no
    row-level mode can route it and the streaming query dies
    (``sources.read_records`` docstring; batch twin
    ``pipeline._raise_clean_stream_error``). This probe is the salvage
    step: binaryFile scan fans file reads across executors, an
    Arrow-batched decode try marks failures, and only the (tiny) bad
    PATH LIST returns to the driver — file bytes never leave the
    executors. Cost is one pass over the undrained files of one
    directory, paid only after a failure, not on the hot path."""
    import pandas as pd

    def probe(batches):
        for pdf in batches:
            bad = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    bytes(content).decode(encoding)
                except (UnicodeDecodeError, ValueError):
                    bad.append(path)
            yield pd.DataFrame({"path": bad}, dtype="object")

    scan = spark.read.format("binaryFile").load(input_dir).select("path", "content")
    return [r.path for r in scan.mapInPandas(probe, "path string").collect()]


def stream_with_deadletter(
    spark: SparkSession,
    input_dir: str,
    deadletter_dir: str,
    start_query,
    max_restarts: int = 3,
    timeout_s: float = 300.0,
    encoding: str = "utf-8",
) -> dict:
    """Run a streaming ingest to completion, routing byte-level poison
    files to ``deadletter_dir`` and restarting on failure — the
    totality contract extended to damage no row-level mode can
    quarantine (the dead-letter move the ``sources.read_records``
    docstring prescribes).

    ``start_query() -> StreamingQuery`` (re)starts the query — it must
    use a fixed checkpoint dir so restarts resume exactly-once. On
    ``StreamingQueryException`` the driver probes ``input_dir`` with
    :func:`find_undecodable_files`, moves each hit into
    ``deadletter_dir`` (preserved byte-for-byte for forensics — moved,
    never deleted), and restarts. A failure with NOTHING to route is
    re-raised unchanged: restarts are bounded and only ever follow a
    concrete routed cause, so a genuine bug cannot loop.

    ``spark.sql.files.ignoreMissingFiles`` is enabled for the retried
    batch (and restored after): the failed micro-batch's offset log may
    already name the routed file, and the replay must skip it rather
    than die on FileNotFound.

    Returns ``{"routed": [paths...], "restarts": n}``."""
    import shutil
    from urllib.parse import urlparse

    os.makedirs(deadletter_dir, exist_ok=True)
    routed: list[str] = []
    restarts = 0
    conf_key = "spark.sql.files.ignoreMissingFiles"
    old_conf = spark.conf.get(conf_key, "false")
    try:
        while True:
            q = start_query()
            try:
                if not q.awaitTermination(timeout_s):
                    # a timeout is NOT a routable failure: raise it
                    # outside the except below so it never triggers a
                    # probe/restart cycle
                    q.stop()
                    return_timeout = True
                else:
                    return {"routed": routed, "restarts": restarts}
            except Exception as exc:
                if restarts >= max_restarts:
                    raise
                bad = find_undecodable_files(spark, input_dir, encoding=encoding)
                if not bad:
                    raise  # nothing routable: not a byte-level poison failure
                for uri in bad:
                    local = urlparse(uri).path or uri
                    shutil.move(
                        local, os.path.join(deadletter_dir, os.path.basename(local))
                    )
                    routed.append(uri)
                restarts += 1
                spark.conf.set(conf_key, "true")
                continue
            if return_timeout:
                raise TimeoutError(f"stream did not finish within {timeout_s}s")
    finally:
        spark.conf.set(conf_key, old_conf)


def await_streams(name: str, *queries, timeout_s: float = 300.0) -> None:
    """Wait for every query in ``queries`` to terminate, then stop them
    all — the one drain of every run-to-the-end stream in the package.

    A query still running after ``timeout_s`` seconds raises
    ``TimeoutError`` naming ``name``; a query that failed re-raises its
    ``StreamingQueryException``. Either way, and on success, every query
    is stopped on the way out (stopping a finished query does nothing),
    so none outlives the call. :func:`stream_with_deadletter` keeps its
    own loop: there a timeout must not be taken for a routable failure.
    """
    try:
        for q in queries:
            if not q.awaitTermination(timeout_s):
                raise TimeoutError(f"{name}: stream did not finish within {timeout_s:g}s")
    finally:
        for q in queries:
            q.stop()


def write_stream_batches(
    df: DataFrame,
    checkpoint_dir: str,
    batch_fn,
    trigger_available_now: bool = True,
    output_mode: str | None = None,
):
    """Run a streaming plan through ``foreachBatch`` with exactly-once
    checkpointing. ``batch_fn(batch_df, batch_id)`` is the sink body —
    e.g. ``sinks.publish_jdbc_atomic`` per micro-batch, giving the
    reference's all-or-nothing semantics at micro-batch granularity.

    ``trigger_available_now=True`` drains everything currently in the
    source then stops — the batch-job parity mode (and what tests use).

    ``output_mode``: for watermarked aggregations note that ``append``
    (the default) only emits windows the watermark has closed — windows
    newer than (max event time − watermark) stay in state at stream end;
    pass ``"update"`` when the sink upserts and must see them.
    """
    writer = df.writeStream.option("checkpointLocation", checkpoint_dir).foreachBatch(batch_fn)
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def idempotent_batch_publish(target_dir: str):
    """Replay-safe ``foreachBatch`` sink: each micro-batch lands in its
    own ``batch_id=<n>`` subdirectory of ``target_dir`` via
    stage-then-rename, and a batch whose directory already exists is
    SKIPPED.

    Why: checkpointing makes re-delivery rare but not impossible — a
    crash after the sink ran but before the checkpoint committed makes
    Structured Streaming re-run the same ``batch_id`` on restart. With
    a non-idempotent sink that duplicates data; here the atomic
    directory rename is the commit record (present ⇒ fully written), so
    the replay becomes a no-op and the end-to-end pipeline is
    exactly-once. The layout doubles as a readable partitioned dataset
    (``spark.read.parquet(target_dir)`` exposes ``batch_id`` as a
    partition column) and at scale each batch directory is written in
    parallel by the executors — the driver only renames.

    All filesystem operations go through the Hadoop FileSystem API
    resolved from ``target_dir``'s scheme, so the same sink works on
    ``file://``, HDFS, or an object store (the driver never assumes a
    local POSIX path). Atomicity caveat: directory rename is atomic on
    POSIX and HDFS; on S3-like stores rename is copy+delete, so there
    the commit record should be a zero-byte ``_COMMITTED_<id>`` marker
    or a conditional PUT — the replay-detection contract is unchanged.

    Returns a ``batch_fn`` for :func:`write_stream_batches`.
    """

    def _publish(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path
        target = hpath(target_dir)
        fs = target.getFileSystem(spark._jsc.hadoopConfiguration())
        final = hpath(target, f"batch_id={batch_id}")
        if fs.exists(final):
            return  # replayed batch: already committed, exactly-once no-op
        # underscore prefix: Spark/Hadoop readers skip `_`/`.` paths, so
        # a mid-write or crash-orphaned staging dir is invisible to
        # partition discovery on target_dir (it would otherwise be
        # parsed as a bogus batch_id partition value)
        staging = hpath(target, f"_staging_batch_{batch_id}")
        if fs.exists(staging):
            fs.delete(staging, True)  # leftover from a crashed attempt
        batch_df.write.mode("overwrite").parquet(staging.toString())
        # Hadoop FileSystem reports most failures via a false return, not
        # an exception (unlike os.rename) — an unchecked false here would
        # leave the batch unpublished while the checkpoint still commits,
        # silently dropping it and breaking the exactly-once contract.
        if not fs.mkdirs(target):
            raise IOError(f"mkdirs failed for {target} (batch {batch_id})")
        if not fs.rename(staging, final):
            raise IOError(
                f"commit rename {staging} -> {final} failed for batch {batch_id}"
            )

    return _publish
