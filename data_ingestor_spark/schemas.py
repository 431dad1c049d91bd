"""Schema registry + external schema loaders.

Reference parity:

- The nested ingest record model (``models/models.go:6-25``): 9 scalar
  fields + a repeated ``fnumbers`` group → :data:`MIST_NESTED_SCHEMA`.
- The flattened 11-column relational shape (DDL ``README.md:85-97``,
  Excel template row 3 read by ``dbtransposer-schema.go:160-200``)
  → :data:`MIST_FLAT_SCHEMA` / :data:`TEMPLATE_COLUMNS`.
- The Excel template loader (``ExtractSQLDataFromExcel``,
  ``dbtransposer-schema.go:160-200``): reads the non-empty cells of one
  sheet row as the DB column whitelist. Driver-side (openpyxl), not a
  distributed op — mirrors the reference running it once at startup
  (``main.go:65``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- MistAMS record model ---------------------------------------------------

#: Flattened relational columns, canonical template order
#: (db-template.xlsx row 3; reference column order is nondeterministic
#: Go-map order — SURVEY §2.3(b) — we canonicalize, strictly better).
TEMPLATE_COLUMNS: list[str] = [
    "user",
    "dt_created",
    "dt_submitted",
    "ast_name",
    "location",
    "status",
    "json_hash",
    "local_id",
    "filename",
    "fnumber",
    "scan_time",
]

#: Nested repeated group (models.go:22-25): fnumber + ISO-8601 scan_time text.
FNUMBERS_ELEMENT = T.StructType(
    [
        T.StructField("fnumber", T.StringType(), True),
        T.StructField("scan_time", T.StringType(), True),
    ]
)

#: Pre-flatten record schema (models.go:6-19). XML chardata is all-string
#: (fileloader-schema.go:427-433) while JSON yields numbers/nulls — both
#: sources are cast INTO this one typed schema at ingest (SURVEY §2.3(e)).
MIST_NESTED_SCHEMA = T.StructType(
    [
        T.StructField("user", T.StringType(), False),
        T.StructField("dt_created", T.LongType(), False),
        T.StructField("dt_submitted", T.LongType(), False),
        T.StructField("ast_name", T.StringType(), True),
        T.StructField("location", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("json_hash", T.StringType(), False),
        T.StructField("local_id", T.StringType(), True),
        T.StructField("filename", T.StringType(), False),
        T.StructField("fnumbers", T.ArrayType(FNUMBERS_ELEMENT), True),
    ]
)

#: Post-flatten schema (= SFLW_RECS DDL, README.md:85-97).
MIST_FLAT_SCHEMA = T.StructType(
    [
        T.StructField("user", T.StringType(), False),
        T.StructField("dt_created", T.LongType(), False),
        T.StructField("dt_submitted", T.LongType(), False),
        T.StructField("ast_name", T.StringType(), True),
        T.StructField("location", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("json_hash", T.StringType(), False),
        T.StructField("local_id", T.StringType(), True),
        T.StructField("filename", T.StringType(), False),
        T.StructField("fnumber", T.StringType(), True),
        T.StructField("scan_time", T.StringType(), True),
    ]
)


# --- External schema loaders -------------------------------------------------


def columns_from_excel(path: str, sheet: str = "Sheet1", line: int = 3) -> list[str]:
    """Read row ``line`` of ``sheet`` as the column whitelist.

    Parity with ``ExtractSQLDataFromExcel`` (``dbtransposer-schema.go:
    160-200``): takes the non-empty cells of one row, in cell order. The
    reference also accepts a ``rangeSpec`` argument that is dead code
    (``dbtransposer-schema.go:180-187`` uses only ``line``) — not ported.
    """
    from data_ingestor_spark.xlsx import read_rows

    grid = read_rows(path, sheet)
    if line > len(grid):
        return []
    return [str(c).strip() for c in grid[line - 1] if c is not None and str(c).strip()]


# --- Driver testdata tables ---------------------------------------------------

#: Tables in /root/testdata/sf*/ (TESTDATA.md). Names double as temp-view
#: names registered by the query library.
TESTDATA_TABLES: list[str] = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
