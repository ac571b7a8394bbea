"""The silver commit (``ParquetAppendTable.insert_if_absent`` fed by
``MedallionPipeline._silver_batch``): a crash at any step of it, followed
by the same micro-batch re-offered, leaves every distinct event in silver
once and in its change feed once, so gold folds each event exactly once.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kafka_streaming_spark.io import sinks
from kafka_streaming_spark.ops.projections import derive_event_columns
from kafka_streaming_spark.schemas import EVENT_SCHEMA
from kafka_streaming_spark.streaming.pipeline import MedallionPipeline
from tests.conftest import Crash, _arm

STATE_COLS = ["cumulative_score", "event_count", "avg_score",
              "first_event_timestamp", "last_event_timestamp"]


def _staged(path) -> bool:
    return "/silver/stage/" in str(path)


def _torn_staged_write(monkeypatch):
    """The staged write dies halfway: a truncated file is left in the stage."""
    write = sinks.pq.write_table

    def torn(table, where, **kw):
        if _staged(where):
            write(table, where, **kw)
            with open(where, "r+b") as fh:
                fh.truncate(os.path.getsize(where) // 2)
            raise Crash("write_table")
        return write(table, where, **kw)

    monkeypatch.setattr(sinks.pq, "write_table", torn)


def _before_rename(monkeypatch):
    _arm(monkeypatch, sinks.os, "rename", lambda a, calls: _staged(a[0]))


def _after_rename(monkeypatch):
    """The rename lands, then the attempt dies before it returns."""
    rename = sinks.os.rename

    def landed(src, dst):
        rename(src, dst)
        if _staged(src):
            raise Crash("rename")

    monkeypatch.setattr(sinks.os, "rename", landed)


#: Batch v crashes at step v of the silver commit; the last one completes,
#: and only its checkpoint commit is lost.
FAULTS = [_torn_staged_write, _before_rename, _after_rename, None]


def _fresh(v: int) -> list[tuple]:
    """20 new events over groups g0..g4; scores are multiples of 1/4, so
    every sum is exact in any order."""
    base_ms = 1_700_000_000_000 + v * 600_000
    return [
        (f"e{v}_{i}", f"g{i % 5}", ((v + 1) * (i + 1) % 37) / 4, base_ms + i * 1000)
        for i in range(20)
    ]


def _batch(v: int) -> list[tuple]:
    """Batch v: its new events plus three of batch v-1's, re-sent (the
    cross-batch duplicates the anti-join must drop)."""
    return _fresh(v) + (_fresh(v - 1)[:3] if v else [])


def _gold_of(events: list[tuple]) -> dict:
    want = (
        pa.Table.from_pylist([dict(zip(EVENT_SCHEMA.names, e)) for e in events])
        .group_by("group_id")
        .aggregate([("score", "sum"), ("score", "count"),
                    ("event_timestamp", "min"), ("event_timestamp", "max")])
    )
    return {
        r["group_id"]: (r["score_sum"], r["score_count"], r["score_sum"] / r["score_count"],
                        r["event_timestamp_min"], r["event_timestamp_max"])
        for r in want.to_pylist()
    }


def test_silver_commit_crash_at_each_step_then_replay(spark, tmp_path_factory, monkeypatch):
    """Batch v crashes at step v of the silver commit (mid staged write,
    before the rename, after the rename) or completes with its checkpoint
    commit lost, and is re-offered with the same batch id, as a restarted
    query does.  Each batch spans two Spark partitions and still commits
    one file.  Silver→gold streams the feed both before and after the
    re-offer, as a live query would.  After each: silver holds every
    distinct event once, the change feed is exactly the table with each
    row at the version that first carried it, and gold is the pyarrow
    aggregate of the distinct events.

    A last batch also carries a new id older than silver's watermark
    (the newest event time of the versions below it, less the 30 s
    default delay).  It crashes at each step in turn, the last after its
    rename landed, and is then re-offered: the re-offer drops that one row
    as late again, which it would not if the watermark read the batch's
    own file, and leaves silver and gold as above."""
    root = str(tmp_path_factory.mktemp("silvercrash"))
    pipe = MedallionPipeline(spark, root)
    silver_cols = [f.name for f in pipe.silver.schema.fields]
    first_version: dict[str, int] = {}

    def batch_of(rows):
        return (
            derive_event_columns(spark.createDataFrame(rows, schema=EVENT_SCHEMA))
            .select(*silver_cols)
            .repartition(2)
        )

    def check(v: int) -> None:
        assert not os.listdir(f"{root}/silver/stage")
        ids = [r["id"] for r in pipe.silver.read().select("id").collect()]
        assert sorted(ids) == sorted(first_version), f"silver diverged after the fault at v{v}"
        table = sorted(tuple(r) for r in pipe.silver.read().collect())
        feed = pipe.silver.read_cdf().collect()
        assert sorted(tuple(r[c] for c in silver_cols) for r in feed) == table, f"feed != table at v{v}"
        assert {(r["id"], r["_change_type"], r["_commit_version"]) for r in feed} == {
            (i, "insert", first) for i, first in first_version.items()
        }
        events = [e for u in range(v + 1) for e in _fresh(u)]
        gold = {r["group_id"]: tuple(r[c] for c in STATE_COLS) for r in pipe.gold.read().collect()}
        assert gold == _gold_of(events), f"gold diverged after the fault at v{v}"

    for v, fault in enumerate(FAULTS):
        for e in _batch(v):
            first_version.setdefault(e[0], v)
        batch_df = batch_of(_batch(v))
        with monkeypatch.context() as m:
            if fault is not None:
                fault(m)
                with pytest.raises(Crash):
                    pipe._silver_batch(batch_df, v)
            else:
                pipe._silver_batch(batch_df, v)
        committed = [n for n in os.listdir(f"{root}/silver/data/append") if n.startswith(f"v{v}_")]
        assert len(committed) == (fault in (_after_rename, None)), f"v{v}: {committed}"
        pipe.start_silver_to_gold(available_now=True).awaitTermination()
        pipe._silver_batch(batch_df, v)  # restart: the same batch re-offered
        pipe.start_silver_to_gold(available_now=True).awaitTermination()
        check(v)

    v = len(FAULTS)
    late = ("late", "g0", 1.0, _fresh(v - 1)[-1][3] - 60_000)
    for e in _batch(v):
        first_version.setdefault(e[0], v)
    batch_df = batch_of(_batch(v) + [late])
    for fault in FAULTS[:-1]:
        with monkeypatch.context() as m:
            fault(m)
            with pytest.raises(Crash):
                pipe._silver_batch(batch_df, v)
    pipe.start_silver_to_gold(available_now=True).awaitTermination()
    assert pipe._silver_batch(batch_df, v) == 1  # the re-offer after the rename landed
    pipe.start_silver_to_gold(available_now=True).awaitTermination()
    check(v)

    assert not os.path.exists(f"{root}/silver/cdf")  # the feed is the data files
    files = os.listdir(f"{root}/silver/data/append")
    for v in range(len(FAULTS) + 1):
        assert len([n for n in files if n.startswith(f"v{v}_insert_")]) == 1, f"v{v}: {files}"


def test_large_commit_is_one_file_of_several_row_groups(spark, tmp_path_factory):
    """A commit larger than ``_ROW_GROUP_ROWS`` (a backfill batch) lands as
    one file split into row groups, which Spark reads as several tasks;
    every row is read back once."""
    root = str(tmp_path_factory.mktemp("silverrowgroups"))
    pipe = MedallionPipeline(spark, root)
    n = sinks._ROW_GROUP_ROWS + 1000
    events = spark.range(n).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("id"),
        F.concat(F.lit("g"), (F.col("id") % 7).cast("string")).alias("group_id"),
        ((F.col("id") % 37) / 4).alias("score"),
        (F.lit(1_700_000_000_000) + F.col("id") * 10).alias("event_timestamp"),
    )
    silver_cols = [f.name for f in pipe.silver.schema.fields]
    pipe.silver.insert_if_absent(derive_event_columns(events).select(*silver_cols), version=0)
    (name,) = os.listdir(pipe.silver.cdf_dir)
    assert pq.ParquetFile(f"{pipe.silver.cdf_dir}/{name}").num_row_groups >= 2
    silver = pipe.silver.read()
    assert silver.count() == n
    assert silver.select("id").distinct().count() == n
