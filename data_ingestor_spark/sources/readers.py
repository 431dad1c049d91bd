"""File sources: format-dispatched loaders (reference O1–O5).

Reference parity map:

- ``detect_file_type`` ← extension dispatch (``fileloader/fileloader.go:
  246-253``): ``.json`` / ``.xml``, else error. Extended here with the
  formats the Spark engine adds natively (parquet, csv).
- ``read_records`` ← ``StreamDecodeFileWithSchema`` (``fileloader-schema.go:
  25-58``): the one json/xml/csv decode, shared by batch (``spark.read``)
  and streaming (``spark.readStream``) ingest:

  - JSON ← ``StreamJSONFileWithSchema`` / ``FlattenJSONToMaps``
    (``fileloader-schema.go:71-128,241-295``): whole-document decode,
    records under the top-level array key :data:`RECORDS_KEY`
    (``"Records"``, hardcoded in the reference too,
    ``fileloader-schema.go:95-100``);
  - XML ← ``StreamXMLFileWithSchema`` / ``FlattenXMLToMaps``
    (``fileloader-schema.go:142-229``): one record per ``<Record>`` element
    (row tag matched by local name, ``fileloader-schema.go:172`` — an
    option here). Uses Spark 4's native XML data source, which is a true
    distributed streaming scan — unlike the reference's JSON path, which
    decodes the entire document in one call despite its "stream" naming;
  - CSV: an engine addition; a CSV row is already flat.
- ``load`` ← the batch front door: ``read_records`` plus the columnar
  formats. The reference parses each input file twice (eager for exports
  + streaming for DB load, ``main.go:76-103``); here one DataFrame is
  returned and fan-out to sinks reuses it (SURVEY §2.3(h)).
  ``streaming.stream_load`` is the streaming front door over the same
  ``read_records``.

Scale notes: all readers return lazy DataFrames; schema is supplied (no
inference job) when known; JSON/XML multiline documents are one-file-per-
task, so many-file inputs parallelize by file. Parquet/CSV paths get
Catalyst predicate pushdown + column pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SUPPORTED = {"json", "xml", "parquet", "csv", "orc"}
#: the record formats :func:`read_records` decodes, batch and streaming
RECORD_FORMATS = ("json", "xml", "csv")
#: the top-level array key a JSON document holds its records under
RECORDS_KEY = "Records"


def detect_file_type(path: str) -> str:
    """Extension → format (parity: ``fileloader.go:246-253``)."""
    ext = os.path.splitext(path)[1].lower().lstrip(".")
    if ext not in _SUPPORTED:
        raise ValueError(f"unsupported file type {ext!r} for {path!r} (supported: {sorted(_SUPPORTED)})")
    return ext


def _quarantined(reader, schema: T.StructType, corrupt_col: str | None):
    """Apply the typed ``schema`` to ``reader``; with ``corrupt_col`` set,
    append that string column and parse PERMISSIVE, so a record that
    fails the schema lands there instead of failing the job."""
    if corrupt_col is None:
        return reader.schema(schema)
    full = T.StructType(list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)])
    return (
        reader.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
    )


def _flat_csv_schema(schema: T.StructType) -> T.StructType:
    """A CSV row already has the flattened shape, and the CSV source
    rejects array columns: each array<struct> column of the record
    schema is replaced by its element's fields, appended in the order
    ``operators.flatten_nested`` emits them (for ``MIST_NESTED_SCHEMA``
    this is exactly ``MIST_FLAT_SCHEMA``)."""
    scalars, elems = [], []
    for f in schema.fields:
        t = f.dataType
        if isinstance(t, T.ArrayType) and isinstance(t.elementType, T.StructType):
            elems.extend(t.elementType.fields)
        else:
            scalars.append(f)
    return T.StructType(scalars + elems)


def read_records(
    reader,
    path: str,
    fmt: str,
    schema: T.StructType | None = None,
    corrupt_col: str | None = None,
    row_tag: str = "Record",
    **options: str,
) -> DataFrame:
    """Decode json/xml/csv records from ``path`` through ``reader`` —
    ``spark.read`` for a batch DataFrame, ``spark.readStream`` (with any
    stream options already set) for a streaming one. One row per record,
    pre-flatten: nested arrays inside each record are preserved (see
    ``operators.flatten``).

    ``schema`` is the typed record schema. XML chardata is untyped text
    (``fileloader-schema.go:427-433``); its values are cast into the
    schema, matching the engine policy of one typed schema for every
    source (SURVEY §2.3(e)). CSV reads the flattened form of the schema
    (:func:`_flat_csv_schema`).

    Quarantine (ingest-totality contract: quarantine or clean error,
    never a crash or a silent drop): with ``corrupt_col`` and ``schema``
    set, record-level damage lands in that column under PERMISSIVE mode
    while the record's schema fields are NULL — an unclosed XML tag
    swallowing the file tail, XML-illegal control characters in
    chardata, a CSV cell failing its type. The returned schema then
    carries the extra string column, so the knob is opt-in. Stream-level
    damage (invalid UTF-8 BYTES) cannot be quarantined by any row-level
    mode — the StAX charset decoder fails before records exist;
    ``pipeline`` translates that failure to a clean error and
    ``streaming.stream_with_deadletter`` routes the file aside.

    JSON documents are checked per mode:

    - batch validates EAGERLY: a document that cannot yield the records
      array raises a clean ``ValueError`` naming the file and the cause.
      Without this check a TRUNCATED document, a wrong top-level key or
      invalid UTF-8 bytes all parsed to a NULL :data:`RECORDS_KEY` under
      PERMISSIVE mode and exploded to nothing (the classic silent drop).
      The check is one extra pass over the document, which is exactly
      the reference's own cost model — its loader decodes the whole
      document eagerly before use (``fileloader-schema.go:71-128``).
      Duplicate top-level keys are NOT an error: Jackson keeps the LAST
      occurrence, matching the reference's ``encoding/json`` (both
      last-wins; pinned in ``tests/test_ingest_totality.py``);
    - a stream cannot (no action to attach the error to — and one poison
      file must not kill a long-running query). With ``corrupt_col`` set,
      a document that cannot yield the records array flows through as
      ONE row whose record fields are NULL and whose ``corrupt_col``
      carries the raw text of a malformed document, or the batch check's
      cause for a well-formed one whose key is absent or null —
      countable and routable by the sink (a plain ``explode`` would
      erase it). An empty records array yields no row at all.
    """
    if fmt == "json":
        reader = reader.option("multiLine", "true")
        if schema is not None:
            schema = T.StructType([T.StructField(RECORDS_KEY, T.ArrayType(schema), True)])
    elif fmt == "xml":
        reader = reader.option("rowTag", row_tag)
    elif fmt == "csv":
        reader = reader.option("header", "true")
        if schema is not None:
            schema = _flat_csv_schema(schema)
    else:
        raise ValueError(f"unsupported format {fmt!r}")
    # a typed JSON document always carries a corrupt column: the batch
    # check names the damage from it even when the caller quarantines
    # nothing
    doc_corrupt = (corrupt_col or "_corrupt_record") if fmt == "json" else corrupt_col
    if schema is not None:
        reader = _quarantined(reader, schema, doc_corrupt)
    df = reader.format(fmt).options(**options).load(path)
    if fmt != "json":
        return df
    if not df.isStreaming:
        _check_documents(df, path, doc_corrupt if schema is not None else None)
    elif corrupt_col is not None:
        # explode_outer keeps the row of a document with no records
        # array, quarantined with its cause; the filter removes only the
        # spurious null row an EMPTY-but-well-formed Records array adds
        records = F.col(RECORDS_KEY)
        cause = F.when(records.isNull(), F.lit(_NULL_RECORDS_CAUSE))
        exploded = df.select(
            F.explode_outer(records).alias("_rec"),
            F.coalesce(F.col(corrupt_col), cause).alias(corrupt_col),
        ).filter(F.col("_rec").isNotNull() | F.col(corrupt_col).isNotNull())
        return exploded.select("_rec.*", corrupt_col)
    return df.select(F.explode(F.col(RECORDS_KEY)).alias("_rec")).select("_rec.*")


#: why a well-formed JSON document yields no records array
_NULL_RECORDS_CAUSE = f"records key {RECORDS_KEY!r} absent or null"


def _check_documents(doc: DataFrame, path: str, corrupt_col: str | None) -> None:
    """Raise ``ValueError`` if a batch JSON document cannot yield its
    records array (see :func:`read_records`). Without a typed schema the
    inferred columns are the whole check."""
    if RECORDS_KEY not in doc.columns:
        raise ValueError(f"expected top-level array key {RECORDS_KEY!r} in {path!r}; got {doc.columns}")
    if corrupt_col is None:
        return
    bad = doc.filter(F.col(RECORDS_KEY).isNull()).limit(1).collect()
    if bad:
        raw = bad[0][corrupt_col]
        cause = (
            f"unparseable document (corrupt prefix: {raw[:120]!r})"
            if raw is not None
            else _NULL_RECORDS_CAUSE
        )
        raise ValueError(f"malformed JSON document {path!r}: {cause}")


def load(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    row_tag: str = "Record",
    schema: T.StructType | None = None,
    corrupt_col: str | None = None,
    **options: str,
) -> DataFrame:
    """Batch front door (parity: ``fileloader-schema.go:25-58``): the
    format comes from ``fmt`` or the file extension; json/xml/csv decode
    through :func:`read_records`. ``corrupt_col`` opts XML and CSV into
    record-level quarantine; a JSON document is validated eagerly
    instead, so its records never carry the column."""
    fmt = fmt or detect_file_type(path)
    if fmt in ("parquet", "orc"):
        return spark.read.options(**options).format(fmt).load(path)
    return read_records(spark.read, path, fmt, schema, corrupt_col, row_tag, **options)
