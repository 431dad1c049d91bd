from data_ingestor_spark.streaming.ingest import (
    await_streams,
    committed_input_files,
    find_undecodable_files,
    idempotent_batch_publish,
    stream_load,
    stream_with_deadletter,
    write_stream_batches,
)
from data_ingestor_spark.streaming.joins import (
    enrich_with_static,
    join_streams_windowed,
)
from data_ingestor_spark.streaming.stateful import running_user_counters
from data_ingestor_spark.streaming.windows import (
    session_windowed_counts,
    stateful_dedup,
    tumbling_counts,
)

__all__ = [
    "await_streams",
    "committed_input_files",
    "enrich_with_static",
    "find_undecodable_files",
    "stream_with_deadletter",
    "idempotent_batch_publish",
    "join_streams_windowed",
    "running_user_counters",
    "stream_load",
    "write_stream_batches",
    "session_windowed_counts",
    "stateful_dedup",
    "tumbling_counts",
]
