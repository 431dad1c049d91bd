"""File sources: the batch front door :func:`load` and the one
json/xml/csv record decode :func:`read_records` it shares with
``streaming.stream_load`` (see :mod:`.readers`)."""

from data_ingestor_spark.sources.readers import (  # noqa: F401
    RECORD_FORMATS,
    detect_file_type,
    load,
    read_records,
)
