"""Pluggable serving sinks (SURVEY.md §2.2 K3, reference tomongo.py:6-17).

The reference's serving stage is a ``foreachBatch`` body that stamps
``_id = group_id`` and appends to MongoDB (documents replaced by ``_id`` →
effective upsert).  The engine generalizes that into a writer interface so
the same pipeline stage can target parquet (broker-free tests), MongoDB
(the reference's deployment, import-gated on the mongo-spark connector), or
any future key-value store.

Contract: ``write(df, batch_id)`` receives the batch WITH the ``_id`` column
already stamped, one row per ``_id``; writers append — last-writer-wins per
``_id`` is resolved at read time by :func:`latest_per_id` (J3) or by the
store itself (Mongo ``_id`` replacement).
"""

from __future__ import annotations

import os
import shutil
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from kafka_streaming_spark.ops.dedup import latest_per_key
from kafka_streaming_spark.schemas import GOLD_SCHEMA

#: A serving row: the gold row plus its ``_id`` (= ``group_id``).
SERVING_SCHEMA = StructType([*GOLD_SCHEMA.fields, StructField("_id", StringType(), True)])


def latest_per_id(spark: SparkSession, *paths: str) -> DataFrame:
    """The serving read rule (J3) over the serving rows in ``paths``: the
    latest row per ``_id`` by ``updated_at``, ``event_count`` breaking a tie
    (two commits in one second; a later fold has counted more events)."""
    rows = spark.read.schema(SERVING_SCHEMA).parquet(*paths)
    return latest_per_key(rows, ["_id"], "updated_at", tiebreak="event_count")


class ServingWriter(Protocol):
    """K3 sink interface: one call per micro-batch."""

    def write(self, df: DataFrame, batch_id: int) -> None: ...


class ParquetServingWriter:
    """Append-to-directory serving store (the broker/DB-free stand-in);
    read it with :func:`latest_per_id`.

    OPTIMIZE-analog (reference utils.py:111-124): an append-only serving
    dir otherwise grows one file set per micro-batch forever, so reads
    degrade to O(all appends).  When the parquet file count exceeds
    ``compact_threshold``, the writer compacts the CURRENT file set to its
    latest-row-per-key state and removes the old files — reads stay
    O(state).  Crash-safe without coordination: compacted rows are written
    before originals are removed, and duplicated rows are harmless under
    the last-writer-wins read (identical latest row wins either way).
    Single-writer, like every table in this engine.
    """

    def __init__(self, path: str, compact_threshold: int | None = 64):
        self.path = path
        self.compact_threshold = compact_threshold

    def _files(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return [
            f"{self.path}/{n}" for n in os.listdir(self.path) if n.endswith(".parquet")
        ]

    def write(self, df: DataFrame, batch_id: int) -> None:
        df.write.mode("append").parquet(self.path)
        if self.compact_threshold and len(self._files()) > self.compact_threshold:
            self.compact(df.sparkSession)

    def compact(self, spark: SparkSession) -> None:
        old = self._files()
        if not old:
            return
        stage = f"{self.path}/_compact_stage"
        latest_per_id(spark, *old).coalesce(1).write.mode("overwrite").parquet(stage)
        for name in os.listdir(stage):
            if name.endswith(".parquet"):
                os.rename(f"{stage}/{name}", f"{self.path}/compacted_{name}")
        shutil.rmtree(stage, ignore_errors=True)
        for path in old:
            try:
                os.remove(path)
            except OSError:
                pass


class MongoServingWriter:
    """The reference's sink (tomongo.py:12-16): mongo-spark connector
    append with ``_id``-keyed document replacement.  Option bundle mirrors
    reference config.py:62-77.  Requires the ``mongo-spark-connector``
    package on the session's classpath — probed at write time with a clear
    error, never at import time."""

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

    def write(self, df: DataFrame, batch_id: int) -> None:
        writer = df.write.format("mongodb").mode("append")
        for k, v in self.options().items():
            writer = writer.option(k, v)
        try:
            writer.save()
        except Exception as exc:  # pragma: no cover - needs connector+server
            raise RuntimeError(
                "MongoServingWriter needs the mongo-spark-connector package "
                "(org.mongodb.spark:mongo-spark-connector_2.13) on the Spark "
                "classpath and a reachable MongoDB at "
                f"{self.uri!r}: {exc}"
            ) from exc
