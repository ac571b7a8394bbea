"""Sources and sinks (SURVEY.md §2.1 / §2.2)."""

from kafka_streaming_spark.io.sources import (
    file_stream,
    kafka_stream,
    rate_stream,
)
from kafka_streaming_spark.io.serving import ParquetServingWriter
from kafka_streaming_spark.io.sinks import (
    ParquetAppendTable,
    ParquetUpsertTable,
    start_foreach_batch,
)

__all__ = [
    "file_stream",
    "kafka_stream",
    "rate_stream",
    "ParquetAppendTable",
    "ParquetUpsertTable",
    "ParquetServingWriter",
    "start_foreach_batch",
]
