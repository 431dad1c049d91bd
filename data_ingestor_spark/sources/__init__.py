from data_ingestor_spark.sources.readers import (  # noqa: F401
    RECORD_FORMATS,
    detect_file_type,
    load,
    read_jsonl_records,
    read_records,
)
