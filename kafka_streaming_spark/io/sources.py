"""Streaming and batch sources (SURVEY.md §2.1, S1-S6).

The Kafka option bundle mirrors the reference's subscription
(silver.py:45-51); file/rate sources are the test-time stand-ins (no broker
in CI).  Change-feed reads of the medallion tables are methods of the
tables themselves (``io.sinks``: ``read_cdf``, ``stream_cdf``).
``batch_files`` reads a file-source query's checkpoint for the files one
of its micro-batches covers, so a ``foreachBatch`` body can read them
itself instead of running the batch's DataFrame.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 10_000,
) -> DataFrame:
    """S1: Kafka streaming scan — binary key/value rows.

    Reference: silver.py:45-51 (subscribe, startingOffsets env-overridable,
    ``maxOffsetsPerTrigger`` backpressure, config.py:76).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source — the broker-free replay path for tests
    and backfills (bounded batches via ``maxFilesPerTrigger``, the option the
    reference *intended* at gold.py:65 — see SURVEY.md §2.2 K6)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def _log_offset(checkpoint: str, batch_id: int) -> int:
    """The file-source batch that query batch ``batch_id`` read up to: the
    ``logOffset`` in its ``offsets/<batch_id>`` entry (line 3, after the
    version and the batch metadata); -1 before the first batch."""
    if batch_id < 0:
        return -1
    with open(f"{checkpoint}/offsets/{batch_id}") as fh:
        return json.loads(fh.read().splitlines()[2])["logOffset"]


def _source_entries(log: str, n: int) -> list[dict]:
    """The entries of source batch ``n`` in the source log ``log``: its own
    file ``<n>``, or, once Spark has rolled it up (every 10th batch is
    written only as one), the first ``<m>.compact`` with m >= n, which
    repeats every earlier batch's entries with their ``batchId``."""
    try:
        with open(f"{log}/{n}") as fh:
            return [json.loads(line) for line in fh.read().splitlines()[1:]]
    except FileNotFoundError:
        compacts = [int(name[: -len(".compact")]) for name in os.listdir(log) if name.endswith(".compact")]
        m = min(c for c in compacts if c >= n)
        with open(f"{log}/{m}.compact") as fh:
            entries = [json.loads(line) for line in fh.read().splitlines()[1:]]
        return [e for e in entries if e["batchId"] == n]


def batch_files(checkpoint: str, batch_id: int) -> list[str]:
    """The local paths of the files micro-batch ``batch_id`` of a
    file-source query reads, from the query's checkpoint: the source
    batches after the one ``offsets/<batch_id - 1>`` read up to, through
    the one ``offsets/<batch_id>`` names, looked up in the source log
    (``sources/0``).  That log is the durable record Spark replays a batch
    from, so a replayed batch gets the same files.  The log stores each
    path as a URI (a space is ``%20``); the paths come back decoded."""
    log = f"{checkpoint}/sources/0"
    start, end = _log_offset(checkpoint, batch_id - 1), _log_offset(checkpoint, batch_id)
    return [
        unquote(urlsplit(e["path"]).path)
        for n in range(start + 1, end + 1)
        for e in _source_entries(log, n)
    ]


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Built-in rate source — load-generator stand-in for the reference's
    Rust publish daemon (publish_daemon.rs:78-147) in throughput tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def rate_micro_batch_stream(
    spark: SparkSession,
    rows_per_batch: int,
    num_partitions: int | None = None,
    start_timestamp_ms: int = 0,
    advance_ms_per_batch: int = 1000,
) -> DataFrame:
    """``rate-micro-batch`` source: exactly ``rows_per_batch`` rows per
    trigger with DETERMINISTIC values and timestamps — batch *k* carries
    ``value`` in ``[k*rows_per_batch, (k+1)*rows_per_batch)`` and timestamp
    ``start_timestamp_ms + k*advance_ms_per_batch``, independent of wall
    clock.  The wall-clock `rate` source is the load generator; this one is
    the REPRODUCIBLE streaming witness: a query over it has a closed-form
    input, so its output is oracle-checkable (DuckDB ``range()``
    arithmetic) the way file-replay witnesses are.
    """
    reader = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("startTimestamp", str(start_timestamp_ms))
        .option("advanceMillisPerBatch", str(advance_ms_per_batch))
    )
    if num_partitions is not None:
        reader = reader.option("numPartitions", str(num_partitions))
    return reader.load()
