"""The silver commit (``ParquetAppendTable.insert_if_absent`` fed by
``MedallionPipeline._silver_batch``): a crash at any step of it, followed
by the same micro-batch re-offered, leaves every distinct event in silver
once and in its change feed once, so gold folds each event exactly once.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from kafka_streaming_spark.io import sinks
from kafka_streaming_spark.ops.projections import derive_event_columns
from kafka_streaming_spark.schemas import EVENT_SCHEMA
from kafka_streaming_spark.streaming.pipeline import MedallionPipeline
from tests.conftest import Crash, _arm

STATE_COLS = ["cumulative_score", "event_count", "avg_score",
              "first_event_timestamp", "last_event_timestamp"]


def _staged(a) -> bool:
    return "/silver/stage/" in str(a[0])


def _before_first_rename(monkeypatch):
    _arm(monkeypatch, sinks.os, "rename", lambda a, calls: _staged(a))


def _after_first_rename(monkeypatch):
    _arm(monkeypatch, sinks.os, "rename", lambda a, calls: _staged(a) and len(calls) >= 1)


def _before_stage_cleanup(monkeypatch):
    _arm(monkeypatch, sinks.shutil, "rmtree", lambda a, calls: _staged(a))


#: Batch v crashes at step v of the silver commit; the last one completes,
#: and only its checkpoint commit is lost.
FAULTS = [_before_first_rename, _after_first_rename, _before_stage_cleanup, None]


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
    """Batch v crashes at step v of the silver commit (after the staged
    write, after the first of its renames, after the last rename) or
    completes with its checkpoint commit lost, and is re-offered with the
    same batch id, as a restarted query does.  Silver→gold streams the feed
    both before and after the re-offer, as a live query would.  After each:
    silver holds every distinct event once, the change feed is exactly the
    table with each row at the version that first carried it, and gold is
    the pyarrow aggregate of the distinct events."""
    root = str(tmp_path_factory.mktemp("silvercrash"))
    pipe = MedallionPipeline(spark, root)
    silver_cols = [f.name for f in pipe.silver.schema.fields]
    first_version: dict[str, int] = {}
    for v, fault in enumerate(FAULTS):
        for e in _batch(v):
            first_version.setdefault(e[0], v)
        batch_df = (
            derive_event_columns(spark.createDataFrame(_batch(v), schema=EVENT_SCHEMA))
            .select(*silver_cols)
            .repartition(2)
        )
        with monkeypatch.context() as m:
            if fault is not None:
                fault(m)
                with pytest.raises(Crash):
                    pipe._silver_batch(batch_df, v)
            else:
                pipe._silver_batch(batch_df, v)
        if fault is _after_first_rename:
            stage = f"{root}/silver/stage/{v}"
            renamed = [n for n in os.listdir(f"{root}/silver/data/append") if n.startswith(f"v{v}_")]
            left = [n for n in os.listdir(stage) if n.endswith(".parquet")]
            assert len(renamed) == 1 and left, "the staged write made fewer than 2 files"
        pipe.start_silver_to_gold(available_now=True).awaitTermination()
        pipe._silver_batch(batch_df, v)  # restart: the same batch re-offered
        pipe.start_silver_to_gold(available_now=True).awaitTermination()

        assert not os.path.exists(f"{root}/silver/stage/{v}")
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
    assert not os.path.exists(f"{root}/silver/cdf")  # the feed is the data files
