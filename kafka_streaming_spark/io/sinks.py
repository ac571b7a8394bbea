"""Sinks (SURVEY.md §2.2): foreachBatch writers and two parquet-backed
change-tracked tables that emulate the Delta surface the reference relies
on (MERGE targets + Change Data Feed).  They are the engine's one table
backend: no Delta path exists.  Each table owns its file layout; the
pipeline only calls its methods.

The emulation is **single-writer micro-batch** semantics — exactly the
reference's usage (one streaming query owns each table; foreachBatch bodies
are serial per query).  Exactly-once needs no transaction log: the source
is replayable and each commit is idempotent per version.

Layout::

    ParquetAppendTable (silver, insert-only)
    <root>/data/append/v<version>_insert_<min>_<max>_<uuid>.parquet
                               the data files, one per commit, named with
                               the commit's event-time range (epoch ms);
                               commit <version>'s file is also its change
                               feed (``cdf_dir``)

    ParquetUpsertTable (gold, keyed upserts)
    <root>/data/v_<version>.parquet   the full table state after commit
                               <version>, one file; the current state is
                               the newest; the newest two are kept
    <root>/cdf/                flat change-feed dir; every file is named
                               ``v<version>_<change_type>_<uuid>.parquet``

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

One commit path per table, and one Spark job per event batch, in b2s
(bronze→silver): ``insert_if_absent`` fetches the caller's batch to the
driver once as Arrow, because its source can be Kafka; the later stages
read only files this module wrote, so their bodies read a batch's files
on the driver (``read_files``, ``read_feed_files``) and run no Spark job.
Everything after the fetch or the read runs on the driver with pyarrow,
because a Spark job's fixed scheduling cost would dominate a micro-batch
this size.  ``insert_if_absent`` keeps the first row of each id, drops
the rows older than the table's watermark, probes the table's keys with
a pyarrow scan of the files whose event-time range reaches the batch,
anti-joins and writes the fresh rows; ``upsert_state`` takes the caller's
batch as one Arrow table (≤ one row per changed key), reads the prior
state file, folds the batch in, and stages the change feed and the new
state file.  First commits and replays go through the same path as
every other commit.

Driver-memory premise: the driver holds one micro-batch of rows (plus,
for gold, the table state), so the source must cap its micro-batches
(``maxOffsetsPerTrigger``, ``maxFilesPerTrigger``).  The reference caps a
Kafka micro-batch at 10,000 events.  A fetched silver row with 36-char
uuid ids is ~115 bytes of Arrow: a 220k-row batch is ~25 MB, and Spark's
default ``spark.driver.maxResultSize`` of 1 GiB fails the b2s fetch at
about 9M rows.  Nothing checks the cap; a batch past it fails its commit
and stops the stream, and needs a tighter cap, not a distributed commit.
Silver→gold reads its batch's silver files with pyarrow, so
``maxResultSize`` does not apply to it: it holds at most 50 silver files
(its ``maxFilesPerTrigger``) in driver memory, three of their columns.
Silver keeps no dedup state besides its own files: the probe reads the
key columns of the files whose event-time range reaches the batch, so
its cost is set by the watermark, not by history.

Commit protocol of ``insert_if_absent`` (crash at any step, then the same
version re-offered): the fresh rows written to ``stage/<version>.parquet``,
then renamed to ``data/append/v<version>_insert_<min>_<max>_<uuid>.parquet``
— the one rename is the commit.  The retry overwrites whatever staged file
an earlier attempt left, its watermark is read from the versions below
its own, as the first attempt's was, and its probe sees the rows an
earlier attempt renamed, so each row lands in one file.

Commit protocol of ``upsert_state`` (crash at any step, then the same
version re-offered): change-feed files staged as
``stage/v<version>_<type>_<uuid>.parquet``, then the state file staged
and renamed to ``data/v_<version>.parquet`` — that rename is the commit
— then the feed files renamed into ``cdf/`` under the same names,
preimage first, then the state files older than the previous one
deleted.  ``version_applied`` holds once the state file is in ``data/``
and no feed file of the version is left in ``stage/``.  A retry after
the state rename rolls forward, renaming the feed files left; a retry
before it deletes the version's staged feed files and redoes the
version from the newest state below it.  A feed file that reached
``cdf/`` is never deleted or rewritten.

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

import os
import re
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
from kafka_streaming_spark.schemas import BUCKET_SECONDS

#: Regexes over a change-feed file's path, anchored on its file name
#: (see module docstring): a directory named like ``v1_run`` in the root's
#: path must not be read as the version.
_VERSION_RE = r"/v(\d+)_[^/]*$"
_CTYPE_RE = r"/v\d+_(insert|update_preimage|update_postimage|delete)_[^/]*$"
#: The change types of a gold commit in the order its feed files land.
_FEED_TYPES = ("update_preimage", "update_postimage", "insert")
#: Rows per parquet row group of a silver commit: Spark splits a file by
#: row group, so a large (backfill) commit is read by several tasks, while
#: a live commit of a few hundred rows stays one group.
_ROW_GROUP_ROWS = 65_536
#: A silver data file's name: its commit version, then the commit's
#: event-time range, the min and max ``event_timestamp`` of its rows.
_SILVER_FILE_RE = re.compile(r"v(\d+)_insert_(-?\d+)_(-?\d+)_[0-9a-f]+\.parquet")


def attach_cdf_metadata(df: DataFrame) -> DataFrame:
    """Derive ``_change_type`` / ``_commit_version`` from the cdf file path
    (``input_file_name``) of a Spark scan; ``read_feed_files`` does the
    same on the driver."""
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

    def read_files(self, paths: Sequence[str], columns: Sequence[str]) -> pa.Table:
        """``columns`` of the committed files ``paths``, read on the driver
        with pyarrow (no Spark job)."""
        return ds.dataset(list(paths), schema=self._arrow_schema, format="parquet").to_table(
            columns=list(columns)
        )

    def read_feed_files(self, paths: Sequence[str]) -> pa.Table:
        """The change rows of the feed files ``paths``, read on the driver,
        with ``_change_type`` and ``_commit_version`` taken from each
        file's name by the same anchored regexes ``attach_cdf_metadata``
        uses."""
        feed = pa.schema([*self._arrow_schema, ("_change_type", pa.string()), ("_commit_version", pa.int64())])
        parts = [feed.empty_table()]
        for path in paths:
            rows = pq.read_table(path, schema=self._arrow_schema)
            change_type = pa.scalar(re.search(_CTYPE_RE, path)[1])
            version = pa.scalar(int(re.search(_VERSION_RE, path)[1]), pa.int64())
            parts.append(
                rows.append_column("_change_type", pa.repeat(change_type, rows.num_rows))
                .append_column("_commit_version", pa.repeat(version, rows.num_rows))
            )
        return pa.concat_tables(parts)

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
        """S2/S3 as a stream: a file stream over ``cdf_dir``, so each commit
        becomes a downstream micro-batch — the incremental-view-maintenance
        property the reference gets from Delta CDF (per-trigger work ∝
        delta, not history).  The stream's rows are never run: a body
        reads its batch's files itself (``batch_files``, then
        ``read_files`` or ``read_feed_files``), so it carries no change
        metadata."""
        return file_stream(
            self.spark, self.cdf_dir, self.schema, max_files_per_trigger=max_files_per_trigger
        )


class ParquetAppendTable(_ParquetTable):
    """An insert-only table on plain parquet (silver pattern, J1): a commit
    appends the batch rows whose key is absent from the table (anti-join
    with IN-list pruning, silver.py:22-40).  Its data files are its change
    feed: commit ``N`` names its one file
    ``v<N>_insert_<min>_<max>_<uuid>.parquet`` (its rows' event-time
    range), and ``cdf_dir`` is the data dir itself.  The keys are
    silver's ``(minute_timestamp, id)``."""

    def __init__(self, spark: SparkSession, root: str, schema: StructType, keys: Sequence[str]):
        super().__init__(spark, root, schema, keys)
        names = os.listdir(self.cdf_dir) if os.path.isdir(self.cdf_dir) else []
        old = [n for n in names if n.endswith(".parquet") and not _SILVER_FILE_RE.fullmatch(n)]
        if old:
            # the probe and the watermark read the range from the name
            raise ValueError(
                f"{self.cdf_dir} holds a silver file named without its event-time range "
                f"({old[0]}), which the probe would skip; rebuild the table from its source"
            )
        os.makedirs(self.cdf_dir, exist_ok=True)
        os.makedirs(f"{self.root}/stage", exist_ok=True)

    @property
    def cdf_dir(self) -> str:
        return f"{self.root}/data/append"

    def read(self) -> DataFrame:
        """Current table state (S4 batch scan of the merge target)."""
        return self._scan(self.cdf_dir)

    def insert_if_absent(self, batch: DataFrame, version: int, delay_ms: int | None = None) -> int:
        """J1: append the batch rows whose key is not present yet; returns
        how many rows were dropped as late.

        The batch's one Spark job fetches its rows as Arrow.  Then, on the
        driver: (1) the first row of each id is kept, whatever its bucket
        (the reference's stream dedup, silver.py:66); (2) with
        ``delay_ms``, the rows older than the table's watermark are dropped
        as late: the newest event time of the versions below ``version``,
        less ``delay_ms``, so a replay drops the same rows; (3) the rows
        whose ``(minute_timestamp, id)`` is in the table are dropped (the
        anti-join, silver.py:22-40).  So an id already in silver lands
        again only in another 180 s bucket and within the watermark.  (1)
        comes before (2): a replay of ``a`` next to a newer ``a`` in the
        next bucket would otherwise insert the newer one as a second row.

        The probe reads the key columns of the files whose newest event
        time reaches the batch's oldest bucket, filtered to the batch's
        buckets (F3, silver.py:22-28's "Prune IN List").  The commit is
        the rename of one staged file; see the module docstring for its
        replay protocol.
        """
        rows = self._conform(batch.select(*self.schema.fieldNames()).toArrow())
        lead, ident = self.keys
        rows = rows.take(pc.unique(pc.index_in(rows[ident], rows[ident])))
        # (version, newest event time, path) of each committed file, from its name
        names = map(_SILVER_FILE_RE.fullmatch, os.listdir(self.cdf_dir))
        files = [(int(m[1]), int(m[3]), f"{self.cdf_dir}/{m[0]}") for m in names if m]
        below = [newest for v, newest, _path in files if v < version]
        unique = rows.num_rows
        if delay_ms is not None and below:
            rows = rows.filter(pc.field("event_timestamp") >= max(below) - delay_ms)
        if not rows.num_rows:
            return unique
        oldest = pc.min(rows[lead]).as_py() * BUCKET_SECONDS * 1000
        probe = [path for _v, newest, path in files if newest >= oldest]
        current = ds.dataset(probe, schema=self._arrow_schema, format="parquet").to_table(
            columns=self.keys, filter=pc.field(lead).isin(pc.unique(rows[lead]))
        )
        fresh = rows.join(current, keys=self.keys, join_type="left anti")
        if fresh.num_rows:
            staged = f"{self.root}/stage/{version}.parquet"
            pq.write_table(fresh, staged, row_group_size=_ROW_GROUP_ROWS)
            lo, hi = pc.min_max(fresh["event_timestamp"]).values()
            name = f"v{version}_insert_{lo.as_py()}_{hi.as_py()}_{uuid.uuid4().hex}.parquet"
            os.rename(staged, f"{self.cdf_dir}/{name}")
        return unique - rows.num_rows


class ParquetUpsertTable(_ParquetTable):
    """A keyed table on plain parquet (gold pattern, J2): ``upsert_state``
    commits the full state as a new version, one file
    ``data/v_<version>.parquet``; the caller's combine (e.g.
    ``combine_states_arrow``) folds the batch into the prior state on the
    driver, and the changed keys' rows are logged to the change feed in
    ``cdf/``."""

    def __init__(self, spark: SparkSession, root: str, schema: StructType, keys: Sequence[str]):
        super().__init__(spark, root, schema, keys)
        data = f"{self.root}/data"
        if os.path.isdir(data) and any(e.is_dir() for e in os.scandir(data)):
            # an old layout (version dirs, key-bucketed or not): its state is
            # in data/v_<N>/, which this table would read as empty,
            # restarting every running total
            raise ValueError(
                f"{self.root} holds an upsert table in an old layout (a directory "
                "under data/), which is no longer read; rebuild it from its source"
            )
        for d in (data, self.cdf_dir, f"{self.root}/stage"):
            os.makedirs(d, exist_ok=True)

    # -- versions ---------------------------------------------------------

    @property
    def cdf_dir(self) -> str:
        return f"{self.root}/cdf"

    def _state(self, version: int) -> str:
        return f"{self.root}/data/v_{version}.parquet"

    def _versions(self) -> list[int]:
        """Every committed version's number, oldest first."""
        return sorted(int(n[2:].split(".")[0]) for n in os.listdir(f"{self.root}/data"))

    def _staged(self, version: int) -> list[str]:
        """The change-feed files of commit ``version`` still in ``stage/``,
        in the order they land in ``cdf/``: preimages first, so a reader of
        the feed never sees a postimage before the preimage of its key."""
        names = os.listdir(f"{self.root}/stage")
        return [n for t in _FEED_TYPES for n in names if n.startswith(f"v{version}_{t}_")]

    def version_applied(self, version: int) -> bool:
        """True when commit ``version`` fully ran: its state file is in
        ``data/`` and none of its change-feed files is left in ``stage/``.
        foreachBatch replays re-run with the same batch_id after a crash
        between the table commit and the checkpoint commit — callers use
        this to no-op instead of folding the same micro-batch into running
        state twice."""
        return os.path.exists(self._state(version)) and not self._staged(version)

    def read_buckets(self) -> DataFrame:
        """Current table state: the newest state file — the parquet-mirror
        analogue of a Delta log replay.  (The name predates the one-file
        layout; the benchmark's tracer wraps the method by name.)"""
        versions = self._versions()
        if not versions:
            return self._empty()
        return self.spark.read.schema(self.schema).parquet(self._state(versions[-1]))

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
        feed.  Runs on the driver with pyarrow, no Spark job.

        ``batch`` holds at most one row per changed key.  ``combine(prior,
        rows)`` gets the previous rows of the batch's keys (none for keys
        new to the table) and the batch, and returns the new rows of those
        keys (e.g. ``combine_states_arrow``).  The other rows are copied
        unchanged.  Driver memory is the state plus the batch.

        Commit protocol: the change feed is staged first, as Delta labels
        it — a changed key present in the prior state emits its previous
        row as ``update_preimage`` and its new row as ``update_postimage``,
        a key new to the table emits ``insert``; each type is one file,
        ``stage/v<version>_<type>_<uuid>.parquet``.  Then the new state,
        one file, is staged and renamed to ``data/v_<version>.parquet``:
        that rename is the commit.  Then the feed files are renamed into
        ``cdf/`` under the same names, preimages first.  Last, the state
        files older than the previous one are deleted; the previous one
        stays for a reader that resolved it (``read()``) before this
        commit landed.

        Idempotent under micro-batch replay (same ``version`` re-offered
        after a crash): a fully applied version is a no-op (returns False).
        A version whose state file landed rolls forward, renaming the feed
        files left in ``stage/``, so a feed file a reader may have consumed
        is never rewritten.  A version whose state file did not land clears
        its staged feed and is redone from the newest state below it."""
        state = self._state(version)
        committed = not os.path.exists(state)
        if committed:
            stage = f"{self.root}/stage"
            for name in self._staged(version):
                os.remove(f"{stage}/{name}")
            (key,) = self.keys  # upsert tables are keyed on one column
            rows = self._conform(batch)
            below = [v for v in self._versions() if v < version]
            prior = (
                pq.read_table(self._state(below[-1]), schema=self._arrow_schema)
                if below
                else self._arrow_schema.empty_table()
            )
            changed = pc.is_in(prior[key], value_set=rows[key])
            pre = prior.filter(changed)
            post = self._conform(combine(pre, rows))
            updated = pc.is_in(post[key], value_set=pre[key])
            feed = {
                "update_preimage": pre,
                "update_postimage": post.filter(updated),
                "insert": post.filter(pc.invert(updated)),
            }
            for t, part in feed.items():
                if part.num_rows:
                    pq.write_table(part, f"{stage}/v{version}_{t}_{uuid.uuid4().hex}.parquet")
            pq.write_table(
                pa.concat_tables([prior.filter(pc.invert(changed)), post]), f"{stage}/v_{version}.parquet"
            )
            os.rename(f"{stage}/v_{version}.parquet", state)
        staged = self._staged(version)
        for name in staged:
            os.rename(f"{self.root}/stage/{name}", f"{self.cdf_dir}/{name}")
        for v in self._versions()[:-2]:
            os.remove(self._state(v))
        return committed or bool(staged)


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
