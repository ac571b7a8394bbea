"""Pluggable serving sinks (SURVEY.md §2.2 K3, reference tomongo.py:6-17).

The reference's serving stage is a ``foreachBatch`` body that stamps
``_id = group_id`` and appends to MongoDB, which replaces each document by
``_id`` on write.  The engine generalizes that into a writer interface so
the same pipeline stage can target parquet (broker-free tests), MongoDB
(the reference's deployment, import-gated on the mongo-spark connector), or
any future key-value store.

Contract: ``write(rows, batch_id)`` receives the batch as an Arrow table
WITH the ``_id`` column already stamped, one row per ``_id``; the
pipeline reads it on the driver, so the parquet writer runs no Spark job.
Last-writer-wins per ``_id`` (J3) is resolved on write, by ``_id``
replacement, in both writers: the store keeps only the newest row of
each ``_id``, so a read needs no rank.
Replaying a batch id rewrites the same rows (an idempotent sink).

Parquet layout and commit protocol::

    <serving>/snapshot.parquet      the store: one row per ``_id``
    <serving>/snapshot.parquet.tmp  the staged next snapshot

A write reads the snapshot, drops the rows whose ``_id`` the batch
carries, appends the batch, writes the staged file and ``os.replace``\\ s
it over the snapshot.  The rename is the commit: a crash before it leaves
the previous snapshot (and a staged file the next write overwrites), a
crash after it leaves the new one, and the re-offered batch rewrites the
same rows either way.  A read opens the snapshot once, so a concurrent
rename cannot tear it.  A write costs O(|store|), which is |groups| rows.
"""

from __future__ import annotations

import os
from typing import Protocol

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from kafka_streaming_spark.schemas import GOLD_SCHEMA

#: A serving row: the gold row plus its ``_id`` (= ``group_id``).
SERVING_SCHEMA = StructType([*GOLD_SCHEMA.fields, StructField("_id", StringType(), True)])
_ARROW_SCHEMA = pa.schema([f.with_nullable(True) for f in to_arrow_schema(SERVING_SCHEMA)])
SNAPSHOT = "snapshot.parquet"


def _snapshot_rows(path: str) -> pa.Table:
    """The rows of the snapshot in ``path``, or none before the first write."""
    try:
        with open(f"{path}/{SNAPSHOT}", "rb") as fh:
            return pq.read_table(fh)
    except FileNotFoundError:
        return _ARROW_SCHEMA.empty_table()


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """The parquet serving store in ``path`` as a DataFrame, one row per
    ``_id``.  The rows are read on the driver when this is called, so the
    frame never rescans a file a later write replaces."""
    return spark.createDataFrame(_snapshot_rows(path), SERVING_SCHEMA)


class ServingWriter(Protocol):
    """K3 sink interface: one call per micro-batch."""

    def write(self, rows: pa.Table, batch_id: int) -> None: ...


class ParquetServingWriter:
    """The broker/DB-free stand-in for the reference's MongoDB collection:
    one snapshot file replaced by ``_id`` on every write (module docstring);
    read it with :func:`read_snapshot`.  Single-writer, like every table in
    this engine."""

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        os.makedirs(self.path, exist_ok=True)
        if any(n.endswith(".parquet") and n != SNAPSHOT for n in os.listdir(self.path)):
            # the append layout: its rows are in files this writer never
            # reads, so it would serve only the groups written from now on
            raise ValueError(f"{self.path} holds a serving store in the append layout; rebuild it")

    def write(self, rows: pa.Table, batch_id: int) -> None:
        """Fold the batch into the snapshot."""
        self.compact(rows)

    def compact(self, rows: pa.Table) -> None:
        """Replace the snapshot's rows of the ``_id``\\ s in ``rows`` by
        ``rows`` and commit the result with one rename.  (A compaction on
        every write; the benchmark's tracer wraps the method by name.)"""
        rows = rows.select(_ARROW_SCHEMA.names).cast(_ARROW_SCHEMA)
        prior = _snapshot_rows(self.path)
        kept = prior.filter(pc.invert(pc.is_in(prior["_id"], value_set=rows["_id"])))
        staged = f"{self.path}/{SNAPSHOT}.tmp"
        pq.write_table(pa.concat_tables([kept, rows]), staged)
        os.replace(staged, f"{self.path}/{SNAPSHOT}")


class MongoServingWriter:
    """The reference's sink (tomongo.py:12-16): mongo-spark connector
    append with ``_id``-keyed document replacement.  Option bundle mirrors
    reference config.py:62-77.  Requires the ``mongo-spark-connector``
    package on the session's classpath — probed at write time with a clear
    error, never at import time.  A write builds its DataFrame from the
    batch's rows on the active session."""

    def __init__(self, uri: str, database: str, collection: str):
        self.uri = uri
        self.database = database
        self.collection = collection

    def options(self) -> dict[str, str]:
        return {
            "connection.uri": self.uri,
            "database": self.database,
            "collection": self.collection,
        }

    def write(self, rows: pa.Table, batch_id: int) -> None:
        df = SparkSession.active().createDataFrame(rows, SERVING_SCHEMA)
        writer = df.write.format("mongodb").mode("append")
        for k, v in self.options().items():
            writer = writer.option(k, v)
        try:
            writer.save()
        except Exception as exc:
            raise RuntimeError(
                "MongoServingWriter needs the mongo-spark-connector package "
                "(org.mongodb.spark:mongo-spark-connector_2.13) on the Spark "
                "classpath and a reachable MongoDB at "
                f"{self.uri!r}: {exc}"
            ) from exc
