"""The medallion pipeline: the reference's three concurrent streaming
queries (``main.py:12-20``) re-expressed as configurable stages over any
source, runnable broker-free with ``availableNow`` triggers.

Topology (reference → engine):

1. ``kafka_to_silver`` (silver.py:43-77) → ``bronze_to_silver``: source →
   parse/derive → foreachBatch insert-if-absent MERGE into the silver
   table, which also keeps the first row of each id and drops the rows
   older than silver's watermark (the reference's watermark and
   dropDuplicatesWithinWatermark, silver.py:63,66).  The query is
   stateless: silver's own files are the dedup state.
2. ``silver_to_gold`` (gold.py:49-69) → ``silver_to_gold``: silver change
   feed (insert-only, so no change-type filter) → per-batch groupBy
   aggregate → running-total upsert into the gold table.
3. ``gold_to_mongo`` (tomongo.py:20-35) → ``gold_to_serving``: gold change
   feed → drop preimages → newest row per ``group_id`` → a write that
   replaces the store's row of each ``_id`` (last-writer-wins per
   ``group_id``, J3, settled on write as MongoDB does).

Backend: plain parquet, so the whole pipeline runs with only pyspark —
silver is a ``ParquetAppendTable``, gold a ``ParquetUpsertTable``, serving
a pluggable writer (``io.serving``).  This is the engine's one table
backend; ``tests/test_delta_parity.py`` holds both tables to the
contract of the reference's Delta MERGEs.  Each table owns its file
layout; this module only calls its methods.

The change feeds between stages are consumed as streams (``stream_cdf``)
— each upstream commit becomes a downstream micro-batch, which is exactly
the incremental-view-maintenance property the reference gets from Delta
CDF (per-trigger work ∝ delta, not history).

One Spark job per event batch, in b2s: the bronze→silver body fetches
its batch as Arrow, because its source can be Kafka.  The silver→gold
and gold→serving bodies never run their batch's DataFrame: they look up
the files the batch covers in the query's checkpoint
(``io.sources.batch_files``: the offset log names the source batches,
the source log their files) and read those files with pyarrow on the
driver.  The offset and source logs are what Spark replays a batch
from, so a replayed batch reads the same files.  Spark counts a batch's
input rows only when its DataFrame runs, so these two queries' progress
reports 0 ``numInputRows``; a batch shows as its source offset
advancing.

Checkpoints: the root is a local directory by construction (every table
commit is an ``os.rename``), so the pipeline writes its streaming
checkpoints — offset, commit and source logs — through Spark's
``FileSystemBasedCheckpointFileManager`` rather than the default
FileContext manager.  On ``file:`` the two give the same guarantee: the
FileContext rename falls through to Hadoop's check-then-rename
``AbstractFileSystem.renameInternal``, which ``RawLocalFs`` does not
override.  They differ in cost when Hadoop's native library is missing
(``NativeIO.isAvailable()`` false): each FileContext write then forks
about 20 ``stat``/``chmod`` processes and takes 36-93 ms, against about 4
processes and 10-50 ms through the FileSystem manager (one atomic
checkpoint write from py4j, 4 vCPU host).  Integrity checks stay on:
Hadoop's ``.crc`` sidecars are written as before.

Exactly-once without a state store: the file source is replayable and
silver's commit is idempotent (``ParquetAppendTable.insert_if_absent``),
so a replayed bronze→silver batch lands nothing twice.
"""

from __future__ import annotations

import os
import time
from collections.abc import Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from kafka_streaming_spark.io.serving import ParquetServingWriter, read_snapshot
from kafka_streaming_spark.io.sinks import (
    ParquetAppendTable,
    ParquetUpsertTable,
    start_foreach_batch,
)
from kafka_streaming_spark.io.sources import batch_files
from kafka_streaming_spark.ops.aggregates import combine_states_arrow, group_agg_arrow
from kafka_streaming_spark.ops.projections import derive_event_columns
from kafka_streaming_spark.schemas import GOLD_SCHEMA, SILVER_SCHEMA

#: Spark's internal SQL conf naming the streaming checkpoint file manager,
#: and the manager the pipeline's local checkpoints are written through.
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FILE_SYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)

class MedallionPipeline:
    """Bronze → silver → gold → serving over a local table root.

    Single-writer per table (the reference's model: each streaming query
    owns its target).  ``run_available_now`` drains a finite source through
    all three stages in sequence — the test/backfill mode; ``start_*``
    methods return live streaming queries for continuous mode.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        watermark_delay: str = "30 seconds",
        serving_writer=None,
    ):
        """Points the session's checkpoint file manager at Spark's
        FileSystem manager before any of the pipeline's queries start: the
        root is local (see the module docstring), and on a host without
        Hadoop's native library the switch took the benchmark's traced
        bronze→silver batch p50 from 0.78 to 0.45 s (4 vCPU).  The conf is
        a session conf: other streaming queries started on ``spark`` use
        it too, and a ``spark.newSession()`` keeps Spark's default."""
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FILE_SYSTEM_CHECKPOINT_MANAGER)
        self.spark = spark
        self.root = root.rstrip("/")
        # withWatermark's "<n> <unit>" delays, days to milliseconds, read by pandas
        self._delay_ms = pd.Timedelta(watermark_delay) // pd.Timedelta(milliseconds=1)
        self.silver = ParquetAppendTable(
            spark, f"{self.root}/silver", SILVER_SCHEMA, keys=("minute_timestamp", "id")
        )
        self.gold = ParquetUpsertTable(
            spark, f"{self.root}/gold", GOLD_SCHEMA, keys=("group_id",)
        )
        self.serving_dir = f"{self.root}/serving"
        # K3 is pluggable (reference tomongo.py → MongoServingWriter); the
        # default parquet writer keeps the pipeline runnable with pyspark
        # alone, with the same replace-by-``_id`` semantics.
        self.serving_writer = serving_writer or ParquetServingWriter(self.serving_dir)

    def _checkpoint(self, query_name: str) -> str:
        return f"{self.root}/_checkpoints/{query_name}"

    # -- stage 1: bronze → silver ------------------------------------------

    def _silver_batch(self, batch_df: DataFrame, batch_id: int) -> int:
        """K1 body (silver.py:10-40): dedup, late drop and insert-if-absent
        in one silver commit; returns the number of rows dropped as late."""
        return self.silver.insert_if_absent(batch_df, version=batch_id, delay_ms=self._delay_ms)

    def start_bronze_to_silver(self, events: DataFrame, available_now: bool = True):
        """``events`` must carry the EVENT_SCHEMA columns (id, group_id,
        score, event_timestamp).  Applies P4-P7 derivations, then the MERGE
        sink, which also does the dedup and the late drop; the query keeps
        no state.  A checkpoint from the stateful query this replaced (one
        holding a ``state/`` dir) is refused with a ``ValueError`` before
        the query starts.

        ``events`` must be trigger-capped (``maxOffsetsPerTrigger``,
        ``maxFilesPerTrigger``): each micro-batch is fetched to the driver
        whole, and one past ``spark.driver.maxResultSize`` (about 9M rows
        at the 1 GiB default) fails and stops the stream — see the
        driver-memory premise in ``io.sinks``."""
        checkpoint = self._checkpoint("bronze_to_silver")
        if os.path.isdir(f"{checkpoint}/state"):
            raise ValueError(
                f"{checkpoint} holds stream-dedup state (a state/ dir) of a stateful "
                "bronze→silver query, which is no longer run; rebuild the tables from their source"
            )
        silver_cols = derive_event_columns(events).select(*[f.name for f in SILVER_SCHEMA.fields])
        return start_foreach_batch(
            silver_cols,
            self._silver_batch,
            checkpoint=checkpoint,
            query_name="bronze_to_silver",
            available_now=available_now,
        )

    # -- stage 2: silver CDF → gold ----------------------------------------

    def _gold_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """K2 body (gold.py:7-46): :meth:`fold_silver_files` over the silver
        files the micro-batch covers, as the query's checkpoint records
        them (``batch_files``).  ``batch_df`` is never run, so the batch
        runs no Spark job, and Spark's progress reports it read 0 rows."""
        self.fold_silver_files(batch_files(self._checkpoint("silver_to_gold"), batch_id), batch_id)

    def fold_silver_files(self, paths: Sequence[str], batch_id: int) -> None:
        """Per-batch aggregate + running-total upsert of the silver files
        ``paths`` as gold version ``batch_id``.  ``least/greatest``
        maintenance of first/last timestamps (see
        aggregates.combine_states for the documented deviation).

        All on the driver: the files' group, score and event time are read
        with pyarrow (silver is insert-only, so every row is an insert),
        ``group_agg_arrow`` aggregates per group, and ``upsert_state``
        folds that into the prior state with ``combine_states_arrow`` and
        commits it as one state file, renamed into place.  The commit
        keeps the newest two state files: each holds the full state, the
        next commit folds from the newest, and the one before it stays for
        a reader that resolved its file (``read()``) before this commit
        landed."""
        if self.gold.version_applied(batch_id):
            # foreachBatch replay after a crash between the gold commit and
            # the checkpoint commit: the running totals already include this
            # micro-batch — folding it again would double-count.  (The
            # reference's gold MERGE has the same hazard, unguarded.)
            return
        rows = self.silver.read_files(paths, ("group_id", "score", "event_timestamp"))
        if not rows.num_rows:
            return
        agg = group_agg_arrow(rows, keys=("group_id",))
        updated_at = pa.scalar(int(time.time()) * 1000, pa.int64())

        def fold(prior: pa.Table, batch: pa.Table) -> pa.Table:
            new = combine_states_arrow(prior, batch, keys=("group_id",))
            return new.append_column("updated_at", pa.repeat(updated_at, new.num_rows))

        self.gold.upsert_state(agg, version=batch_id, combine=fold)

    def start_silver_to_gold(self, available_now: bool = True, max_files_per_trigger: int = 50):
        """S2: stream the silver change feed in bounded batches of at most
        50 files, the reference's ``MAX_FILES_PER_TRIGGER`` (gold.py:65,
        config.py:76-77, K6).  A silver commit writes one file, so that is
        at most 50 silver commits per gold batch; a gold commit's fixed
        cost exceeds a live silver commit's, so a tighter bound leaves gold
        a commit behind per batch and its backlog, not its work, sets the
        latency."""
        return start_foreach_batch(
            self.silver.stream_cdf(max_files_per_trigger),
            self._gold_batch,
            checkpoint=self._checkpoint("silver_to_gold"),
            query_name="silver_to_gold",
            available_now=available_now,
        )

    # -- stage 3: gold CDF → serving ----------------------------------------

    def _serving_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """K3 body (tomongo.py:6-17): :meth:`serve_gold_files` over the gold
        change-feed files the micro-batch covers (``batch_files``); like
        :meth:`_gold_batch`, it runs no Spark job."""
        self.serve_gold_files(batch_files(self._checkpoint("gold_to_serving"), batch_id), batch_id)

    def serve_gold_files(self, paths: Sequence[str], batch_id: int) -> None:
        """Key-replaced write of the gold change-feed files ``paths``
        through the pluggable writer — ``_id`` = group_id, last-writer-wins
        (J3) by the store's ``_id`` replacement.

        The files are read on the driver, each row labelled with the
        change type and version its file's name carries; preimages are
        dropped.  A trigger can span several gold versions, each with its
        own row for a group; only the newest reaches the writer, so a
        store that replaces by ``_id`` in write order cannot keep a stale
        one."""
        feed = self.gold.read_feed_files(paths)
        images = feed.filter(pc.field("_change_type") != "update_preimage").sort_by(
            [("_commit_version", "descending")]
        )
        if not images.num_rows:
            return
        # index_in gives each row the index of its group's first row, which
        # after the version-descending sort is the group's newest
        newest = images.take(pc.unique(pc.index_in(images["group_id"], images["group_id"])))
        out = newest.drop_columns(["_change_type", "_commit_version"])
        self.serving_writer.write(out.append_column("_id", out["group_id"]), batch_id)

    def start_gold_to_serving(self, available_now: bool = True, max_files_per_trigger: int = 16):
        return start_foreach_batch(
            self.gold.stream_cdf(max_files_per_trigger),
            self._serving_batch,
            checkpoint=self._checkpoint("gold_to_serving"),
            query_name="gold_to_serving",
            available_now=available_now,
        )

    # -- orchestration -------------------------------------------------------

    def run_available_now(self, events: DataFrame) -> DataFrame:
        """Drain a finite source through all three stages in sequence — the
        test/backfill mode.  Returns the gold state.  ``events`` must be
        trigger-capped as :meth:`start_bronze_to_silver` says: an uncapped
        backlog drains as one micro-batch, fetched to the driver whole."""
        self.start_bronze_to_silver(events, available_now=True).awaitTermination()
        self.start_silver_to_gold(available_now=True).awaitTermination()
        self.start_gold_to_serving(available_now=True).awaitTermination()
        return self.gold.read()

    def start_all_live(self, events: DataFrame):
        """T6, the reference's actual deployment mode (main.py:12-20): all
        three stages as CONCURRENT live queries with ``processingTime="0
        seconds"`` triggers (ASAP, the reference's config.py:21 default);
        each downstream stage continuously tails its upstream's change
        feed.  Returns the three StreamingQuery handles (bronze_to_silver,
        silver_to_gold, gold_to_serving); stop them with ``stop_all``."""
        q1 = self.start_bronze_to_silver(events, available_now=False)
        q2 = self.start_silver_to_gold(available_now=False)
        q3 = self.start_gold_to_serving(available_now=False)
        return [q1, q2, q3]

    @staticmethod
    def stop_all(queries) -> None:
        for q in queries:
            if q.isActive:
                q.stop()
        for q in queries:
            q.awaitTermination()

    def serving_view(self) -> DataFrame:
        """The parquet serving store, one row per ``_id`` (J3 is settled on
        write): its snapshot read on the driver at call time
        (``io.serving.read_snapshot``), so no Spark scan or rank runs and
        a concurrent write cannot fail the read."""
        return read_snapshot(self.spark, self.serving_dir)
