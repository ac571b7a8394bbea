"""Sinks (SURVEY.md §2.2): foreachBatch writers and two parquet-backed
change-tracked tables that emulate the Delta surface the reference relies
on (MERGE targets + Change Data Feed) when delta-spark is not installed.
Each table owns its file layout; the pipeline only calls its methods.

The emulation is **single-writer micro-batch** semantics — exactly the
reference's usage (one streaming query owns each table; foreachBatch bodies
are serial per query).  With delta-spark present, ``delta_utils`` provides
the real ACID implementation behind the same method names.

Layout::

    ParquetAppendTable (silver, insert-only)
    <root>/data/append/v<version>_insert_<uuid>.parquet
                               the data files, one per commit; commit
                               <version>'s file is also its change feed
                               (``cdf_dir``)

    ParquetUpsertTable (gold, keyed upserts)
    <root>/data/v_<version>/part-<uuid>.parquet   the full table state
                               after commit <version>, one file
    <root>/data/v_<version>/_SUCCESS        finalizes the version; lists
                               the change-feed files of its commit; the
                               current state is the newest finalized version
    <root>/cdf/                flat change-feed dir; every file is named
                               ``v<version>_<change_type>_<name>.parquet``

    both: <root>/stage/        staged writes of an open commit

An insert-only commit's change feed is exactly the rows it inserts (the
reference's silver MERGE, silver.py:22-40), so ``ParquetAppendTable``
keeps no second copy: a committed file is in the feed the moment its
rename lands.

Every commit writes one data file, so a gold commit rewrites the whole
state: O(|state|), not O(Δ).  Splitting the state into n key buckets
would not help the traffic it serves: a batch touching k keys rewrites
a share 1-(1-1/n)^k of the buckets, which at the benchmark's 200 groups
per batch and n = 32 is 31.95 of 32 (measured) — 32 file reads and
writes where one does.  The reference's traffic is as dense (one
``group_id`` per publisher worker).  Splitting pays only when a batch
touches far fewer keys than there are files.

One commit path per table, one Spark job per micro-batch: the caller's
batch is fetched to the driver once as Arrow, and everything after that
fetch runs on the driver with pyarrow, because a Spark job's fixed
scheduling cost would dominate a micro-batch this size.
``insert_if_absent`` fetches the batch rows, probes the table's keys with
a pyarrow dataset scan pruned to the batch's ``prune_col`` values,
anti-joins and writes the fresh rows; ``upsert_state`` takes the caller's
batch as one Arrow table (≤ one row per changed key), reads the prior
state file, folds the batch in, writes the new state file, then the
change feed.  First commits and replays go through the same path as
every other commit.

Driver-memory premise: the driver holds one micro-batch of rows (plus,
for gold, the table state), so the source must cap its micro-batches
(``maxOffsetsPerTrigger``, ``maxFilesPerTrigger``).  The reference caps a
Kafka micro-batch at 10,000 events.  A fetched silver row with 36-char
uuid ids is ~115 bytes of Arrow: a 220k-row batch is ~25 MB, and Spark's
default ``spark.driver.maxResultSize`` of 1 GiB fails the fetch at about
9M rows.  Nothing checks the cap; a batch past it fails its commit and
stops the stream, and needs a tighter cap, not a distributed commit.
The bronze→silver stream dedup adds its state to the same heap in local
mode, where executors run in the driver JVM: its in-memory state store
(``streaming.pipeline``) reported 96 MiB at 252k keys in the benchmark's
traced backlog (``memoryUsedBytes``, the versions Spark keeps in memory
included), about 400 bytes per key.  That state is bounded by rate ×
watermark delay, not by history.

Commit protocol of ``insert_if_absent`` (crash at any step, then the same
version re-offered): the fresh rows written to ``stage/<version>.parquet``,
then renamed to ``data/append/v<version>_insert_<uuid>.parquet`` — the one
rename is the commit.  The retry overwrites whatever staged file an
earlier attempt left, and its probe sees the rows an earlier attempt
renamed, so each row lands in one file.

Commit protocol of ``upsert_state`` (crash at any step, then the same
version re-offered): state file → ``_SUCCESS`` → change-feed files
staged, then renamed into ``cdf/`` preimage first.  ``version_applied``
holds only once every file ``_SUCCESS`` lists is in ``cdf/``; any earlier
crash leaves a version the retry deletes and redoes in full.

Change-feed metadata (``_change_type``, ``_commit_version``) is **derived
from the file name at read time** (``attach_cdf_metadata``) instead of being
written into the rows — no extra write per insert-only commit, the same
trick Delta plays by logging file-level actions rather than row-level
copies; ``upsert_state`` commits write one file per change type from the
rows the fold already holds.

CDF coverage vs Delta: an upsert commit labels its change rows as Delta
does — a changed key that existed before emits ``update_preimage`` (its
previous row) and ``update_postimage``; a key new to the table emits
``insert``, whichever version first writes it; insert-only commits emit
``insert``.  ``delete`` never occurs (neither table deletes rows — same as
the reference's workload); the delete routing filters are exercised against
synthetic delete rows in tests.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable, Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from kafka_streaming_spark.io.sources import file_stream

#: Regexes over the cdf file name (see module docstring).
_VERSION_RE = r"/v(\d+)_"
_CTYPE_RE = r"/v\d+_(insert|update_preimage|update_postimage|delete)_"
#: Rows per parquet row group of a silver commit: Spark splits a file by
#: row group, so a large (backfill) commit is read by several tasks, while
#: a live commit of a few hundred rows stays one group.
_ROW_GROUP_ROWS = 65_536


def _write_json(path: str, obj) -> None:
    """Write ``obj`` under a temp name, then rename it to ``path``: a crash
    mid-write leaves no truncated file that every later open would fail
    to parse."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def attach_cdf_metadata(df: DataFrame) -> DataFrame:
    """Derive ``_change_type`` / ``_commit_version`` from the cdf file path.
    Works on batch and streaming scans alike (``input_file_name`` is set for
    both)."""
    fname = F.input_file_name()
    return df.withColumn(
        "_change_type", F.regexp_extract(fname, _CTYPE_RE, 1)
    ).withColumn("_commit_version", F.regexp_extract(fname, _VERSION_RE, 1).cast("long"))


class _ParquetTable:
    """What both tables share: schema, keys and the change-feed reads over
    ``cdf_dir``, whose file names carry the change metadata."""

    cdf_dir: str

    def __init__(self, spark: SparkSession, root: str, schema: StructType, keys: Sequence[str]):
        self.spark = spark
        self.root = root.rstrip("/")
        self.schema = schema
        self.keys = list(keys)
        self._arrow_schema = pa.schema(
            [f.with_nullable(True) for f in to_arrow_schema(schema)]
        )

    def _empty(self) -> DataFrame:
        # limit(0) makes the plan a known-empty relation, so a join or
        # union against it folds away instead of costing a shuffle job
        return self.spark.createDataFrame([], self.schema).limit(0)

    def _scan(self, path: str) -> DataFrame:
        """The parquet files in ``path``, or a known-empty relation."""
        if not any(f.endswith(".parquet") for f in os.listdir(path)):
            return self._empty()
        return self.spark.read.schema(self.schema).parquet(path)

    def _conform(self, table: pa.Table) -> pa.Table:
        """The table's columns of ``table``, cast to their stored types (a
        Spark-collected batch may carry large strings, a fold int32s)."""
        fields = [f for f in self._arrow_schema if f.name in table.column_names]
        return table.select([f.name for f in fields]).cast(pa.schema(fields))

    def read_cdf(
        self, starting_version: int = 0, change_types: Sequence[str] | None = None
    ) -> DataFrame:
        """S2/S3: change rows since ``starting_version`` with ``_change_type``
        and ``_commit_version`` metadata (T4 routing via ``change_types``)."""
        df = attach_cdf_metadata(self._scan(self.cdf_dir))
        df = df.filter(F.col("_commit_version") >= starting_version)
        if change_types:
            df = df.filter(F.col("_change_type").isin(list(change_types)))
        return df

    def stream_cdf(self, max_files_per_trigger: int) -> DataFrame:
        """S2/S3 as a stream: a file stream over ``cdf_dir`` with the same
        metadata, so each commit becomes a downstream micro-batch — the
        incremental-view-maintenance property the reference gets from
        Delta CDF (per-trigger work ∝ delta, not history)."""
        raw = file_stream(
            self.spark, self.cdf_dir, self.schema, max_files_per_trigger=max_files_per_trigger
        )
        return attach_cdf_metadata(raw)


class ParquetAppendTable(_ParquetTable):
    """An insert-only table on plain parquet (silver pattern, J1): a commit
    appends the batch rows whose key is absent from the table (anti-join
    with IN-list pruning, silver.py:22-40).  Its data files are its change
    feed: commit ``N`` names its one file ``v<N>_insert_<uuid>.parquet``,
    and ``cdf_dir`` is the data dir itself."""

    def __init__(self, spark: SparkSession, root: str, schema: StructType, keys: Sequence[str]):
        super().__init__(spark, root, schema, keys)
        os.makedirs(self.cdf_dir, exist_ok=True)
        os.makedirs(f"{self.root}/stage", exist_ok=True)

    @property
    def cdf_dir(self) -> str:
        return f"{self.root}/data/append"

    def read(self) -> DataFrame:
        """Current table state (S4 batch scan of the merge target)."""
        return self._scan(self.cdf_dir)

    def insert_if_absent(
        self,
        batch: DataFrame,
        version: int,
        prune_col: str | None = None,
        batch_unique: bool = False,
    ) -> None:
        """J1: append the batch rows whose key is not present yet.

        The batch's one Spark job fetches its rows as Arrow; the rest runs
        on the driver.  A batch with no fresh rows commits nothing
        (watermark eviction under availableNow ends on such a batch).

        ``prune_col`` restricts the existing-keys probe to the batch's
        values of that column (F3, silver.py:22-28's "Prune IN List"): the
        pyarrow scan of the data dir reads only the key columns, filtered
        to those values.  ``prune_col`` must be part of ``keys`` (it is the
        reference's ``minute_timestamp``, part of the MERGE key).

        ``batch_unique=True`` skips the within-batch dropDuplicates — one
        full shuffle of every micro-batch — for callers whose upstream
        already guarantees key uniqueness (the medallion pipeline's
        dropDuplicatesWithinWatermark does exactly this; replayed/cross-
        batch duplicates are still caught by the anti-join).

        Commit protocol: the anti-join's rows are written as one file to
        ``stage/<version>.parquet``, which is renamed into the data dir as
        ``v<version>_insert_<uuid>.parquet`` (the rename is the commit,
        mirroring Delta's write-files-then-commit protocol).  Idempotent
        under micro-batch replay (same ``version`` re-offered after a crash
        at any step): the retry overwrites a staged file the crash left,
        and the anti-join excludes the rows an earlier attempt already
        renamed — each row in one file.
        """
        deduped = batch if batch_unique else batch.dropDuplicates(self.keys)
        rows = self._conform(deduped.select(*self.schema.fieldNames()).toArrow())
        if not rows.num_rows:
            return
        where = None if prune_col is None else pc.field(prune_col).isin(pc.unique(rows[prune_col]))
        current = ds.dataset(self.cdf_dir, schema=self._arrow_schema, format="parquet").to_table(
            columns=self.keys, filter=where
        )
        fresh = rows.join(current, keys=self.keys, join_type="left anti")
        if not fresh.num_rows:
            return
        staged = f"{self.root}/stage/{version}.parquet"
        pq.write_table(fresh, staged, row_group_size=_ROW_GROUP_ROWS)
        os.rename(staged, f"{self.cdf_dir}/v{version}_insert_{uuid.uuid4().hex}.parquet")


class ParquetUpsertTable(_ParquetTable):
    """A keyed table on plain parquet (gold pattern, J2): ``upsert_state``
    commits the full state as a new version, one file; the caller's combine
    (e.g. ``combine_states_arrow``) folds the batch into the prior state on
    the driver, and the changed keys' rows are logged to the change feed in
    ``cdf/``."""

    def __init__(self, spark: SparkSession, root: str, schema: StructType, keys: Sequence[str]):
        super().__init__(spark, root, schema, keys)
        if os.path.exists(f"{self.root}/_table_meta.json"):
            # the key-bucketed layout: its state is in data/v_*/__bucket=*/,
            # which this table would read as empty, restarting every total
            raise ValueError(
                f"{self.root} holds an upsert table in the key-bucketed layout, "
                "which is no longer read; rebuild it from its source"
            )
        os.makedirs(f"{self.root}/data", exist_ok=True)
        os.makedirs(self.cdf_dir, exist_ok=True)

    # -- versions ---------------------------------------------------------

    @property
    def cdf_dir(self) -> str:
        return f"{self.root}/cdf"

    def _versions(self) -> list[int]:
        """Every version dir's number, oldest first; a dir without its
        ``_SUCCESS`` marker is a crashed half-write, which readers skip."""
        return sorted(int(n[2:]) for n in os.listdir(f"{self.root}/data") if n.startswith("v_"))

    def version_applied(self, version: int) -> bool:
        """True when commit ``version`` fully ran (state finalized AND its
        change-feed files registered).  foreachBatch replays re-run with the
        same batch_id after a crash between the table commit and the
        checkpoint commit — callers use this to no-op instead of folding the
        same micro-batch into running state twice.

        ``_SUCCESS`` lists the change-feed files of the commit
        (:meth:`upsert_state`); the commit is final when every one of them
        is in ``cdf/``, so a crash between any two renames reads as
        interrupted and the retry redoes the whole version."""
        marker = f"{self.root}/data/v_{version}/_SUCCESS"
        if not os.path.exists(marker):
            return False
        with open(marker) as fh:
            names = json.load(fh)
        return all(os.path.exists(f"{self.cdf_dir}/{name}") for name in names)

    def _state_file(self, before_version: int | None = None) -> str | None:
        """The state file of the newest finalized version (optionally among
        versions < ``before_version``), or None for an empty table: the
        version dirs are walked newest first, stopping at the first with
        its ``_SUCCESS``."""
        for v in reversed(self._versions()):
            vd = f"{self.root}/data/v_{v}"
            if (before_version is None or v < before_version) and os.path.exists(f"{vd}/_SUCCESS"):
                (name,) = [n for n in os.listdir(vd) if n.endswith(".parquet")]
                return f"{vd}/{name}"
        return None

    def read_buckets(self) -> DataFrame:
        """Current table state: the state file of the newest finalized
        version — the parquet-mirror analogue of a Delta log replay.  (The
        name predates the one-file layout; the benchmark's tracer wraps the
        method by name.)"""
        path = self._state_file()
        if path is None:
            return self._empty()
        return self.spark.read.schema(self.schema).parquet(path)

    def read(self) -> DataFrame:
        """Current table state (S4 batch scan of the merge target)."""
        return self.read_buckets()

    # -- writes -----------------------------------------------------------

    def upsert_state(
        self,
        batch: pa.Table,
        version: int,
        combine: Callable[[pa.Table, pa.Table], pa.Table],
    ) -> bool:
        """J2: fold a micro-batch into the table state and commit it as
        version ``version``, logging the changed keys' rows to the change
        feed.  Everything after the caller's one Spark round-trip runs on
        the driver with pyarrow.

        ``batch`` holds at most one row per changed key.  ``combine(prior,
        rows)`` gets the previous rows of the batch's keys (none for keys
        new to the table) and the batch, and returns the new rows of those
        keys (e.g. ``combine_states_arrow``).  The other rows are copied
        unchanged.  Driver memory is the state plus the batch.

        Commit protocol: the new state, one file, into
        ``data/v_<version>/``; then ``_SUCCESS``, which makes the version
        visible to readers and lists the change-feed files the commit will
        register; then the change feed, as Delta labels it — a changed key
        present in the prior state emits its previous row as
        ``update_preimage`` and its new row as ``update_postimage``, a key
        new to the table emits ``insert``.  Each type is one file, staged
        and renamed into ``cdf/`` under a fresh name, preimages first.

        Idempotent under micro-batch replay (same ``version`` re-offered
        after a crash): a fully applied version is a no-op (returns False);
        any other attempt deletes what an earlier attempt left of this
        version and redoes it in full from the version before it."""
        if self.version_applied(version):
            return False
        state_dir = f"{self.root}/data/v_{version}"
        stage = f"{self.root}/stage/cdf_{version}"
        if os.path.exists(f"{state_dir}/_SUCCESS"):
            os.remove(f"{state_dir}/_SUCCESS")  # readers drop it before its files go
        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        for name in os.listdir(self.cdf_dir):
            if name.startswith(f"v{version}_"):
                os.remove(f"{self.cdf_dir}/{name}")

        (key,) = self.keys  # upsert tables are keyed on one column
        rows = self._conform(batch)
        path = self._state_file(before_version=version)
        prior = pq.read_table(path, schema=self._arrow_schema) if path else self._arrow_schema.empty_table()
        changed = pc.is_in(prior[key], value_set=rows[key])
        pre = prior.filter(changed)
        post = self._conform(combine(pre, rows))
        os.makedirs(state_dir)
        pq.write_table(
            pa.concat_tables([prior.filter(pc.invert(changed)), post]),
            f"{state_dir}/part-{uuid.uuid4().hex}.parquet",
        )
        updated = pc.is_in(post[key], value_set=pre[key])
        cdf = {
            "update_preimage": pre,
            "update_postimage": post.filter(updated),
            "insert": post.filter(pc.invert(updated)),
        }
        names = {
            t: f"v{version}_{t}_{uuid.uuid4().hex}.parquet" for t, part in cdf.items() if part.num_rows
        }
        _write_json(f"{state_dir}/_SUCCESS", sorted(names.values()))
        # Rename order: preimages land in cdf/ FIRST, postimage and insert
        # files last; a reader of the feed never sees a postimage before
        # the preimage of its key.
        os.makedirs(stage)
        for t, name in names.items():
            pq.write_table(cdf[t], f"{stage}/{name}")
        for name in names.values():
            os.rename(f"{stage}/{name}", f"{self.cdf_dir}/{name}")
        shutil.rmtree(stage, ignore_errors=True)
        return True

    def vacuum(self, keep_last: int = 2) -> None:
        """D3: drop the applied versions older than the newest ``keep_last``
        applied ones.  Each version holds the full state, so an older one
        is never read again; counting applied versions only keeps the state
        an interrupted newest commit redoes from.  This bounds the versions
        kept; it does not compact anything."""
        if keep_last < 1:
            raise ValueError("vacuum must keep at least the current version")
        for v in [v for v in self._versions() if self.version_applied(v)][:-keep_last]:
            os.remove(f"{self.root}/data/v_{v}/_SUCCESS")  # readers drop it before its files go
            shutil.rmtree(f"{self.root}/data/v_{v}", ignore_errors=True)


def start_foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    query_name: str,
    available_now: bool = False,
):
    """K1/K2/K3 writer shape: ``foreachBatch`` + checkpoint + trigger
    (silver.py:69-77, gold.py:61-69, tomongo.py:30-35).  ``available_now``
    runs the backlog to completion and stops — the finite-test trigger;
    otherwise each batch starts as soon as the last one ends
    (``processingTime="0 seconds"``, the reference's config.py:21)."""
    writer = (
        df.writeStream.foreachBatch(fn)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="0 seconds")
    return writer.start()
