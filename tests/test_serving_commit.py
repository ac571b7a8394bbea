"""The serving commit (``ParquetServingWriter``): a crash at any step of a
snapshot write, followed by the same batch re-offered, leaves one snapshot
file holding the newest row of every ``_id``; a directory in the old
append layout is refused.  ``MongoServingWriter`` without its connector
fails with an error that names it.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from kafka_streaming_spark.io import serving
from kafka_streaming_spark.io.serving import (
    SERVING_SCHEMA,
    MongoServingWriter,
    ParquetServingWriter,
    read_snapshot,
)
from tests.conftest import Crash, _arm


def _staged(path) -> bool:
    return str(path).endswith(f"/{serving.SNAPSHOT}.tmp")


def _torn_staged_write(monkeypatch):
    """The staged write dies halfway: a truncated file is left behind."""
    write = serving.pq.write_table

    def torn(table, where, **kw):
        write(table, where, **kw)
        if _staged(where):
            with open(where, "r+b") as fh:
                fh.truncate(os.path.getsize(where) // 2)
            raise Crash("write_table")

    monkeypatch.setattr(serving.pq, "write_table", torn)


def _before_replace(monkeypatch):
    _arm(monkeypatch, serving.os, "replace", lambda a, calls: _staged(a[0]))


def _after_replace(monkeypatch):
    """The rename lands, then the write dies before it returns."""
    replace = serving.os.replace

    def landed(src, dst):
        replace(src, dst)
        if _staged(src):
            raise Crash("replace")

    monkeypatch.setattr(serving.os, "replace", landed)


#: Batch v crashes at fault v % 4; None is a write that completes, as when
#: only the checkpoint commit after it is lost.
FAULTS = [_torn_staged_write, _before_replace, _after_replace, None]
N_BATCHES = 13


def _batch(v: int) -> list[tuple]:
    """Batch v: four of the groups g0..g5 (shifting with v) and one group
    of its own, each stamped with v so a stale row is visible."""
    ids = [f"g{(v + i) % 6}" for i in range(4)] + [f"n{v}"]
    return [(g, float(v), v + 1, v / 2, v, v + 10, 1000 + v, g) for g in ids]


def _view(spark, path) -> dict:
    rows = read_snapshot(spark, path).collect()
    view = {r["_id"]: tuple(r) for r in rows}
    assert len(view) == len(rows), "an _id is stored twice"
    return view


def test_serving_commit_crash_at_each_step_then_replay(spark, tmp_path_factory, monkeypatch):
    """Batch v crashes mid staged write, before the snapshot rename or
    after it, or completes, and is re-offered with the same batch id, as a
    restarted query does.  Before the re-offer the view is the fold of the
    batches whose rename landed; after it, the fold of every batch so far,
    and the directory holds only the snapshot — over 13 batches, one
    file."""
    path = f"{tmp_path_factory.mktemp('servingcrash')}/serving"
    writer = ParquetServingWriter(path)
    assert _view(spark, path) == {}  # before the first write
    fold: dict = {}
    for v in range(N_BATCHES):
        fault = FAULTS[v % len(FAULTS)]
        df = spark.createDataFrame(_batch(v), schema=SERVING_SCHEMA).toArrow()
        before = dict(fold)
        fold.update({r[-1]: r for r in _batch(v)})
        with monkeypatch.context() as m:
            if fault is not None:
                fault(m)
                with pytest.raises(Crash):
                    writer.write(df, v)
            else:
                writer.write(df, v)
        landed = fault in (_after_replace, None)
        assert _view(spark, path) == (fold if landed else before), f"v{v}: {fault}"
        writer.write(df, v)  # restart: the same batch re-offered
        assert _view(spark, path) == fold, f"serving diverged after the fault at v{v}"
        assert os.listdir(path) == [serving.SNAPSHOT], f"v{v}: {os.listdir(path)}"
    assert len(fold) == 6 + N_BATCHES


def test_append_layout_serving_dir_is_refused(spark, tmp_path_factory):
    """A serving dir in the old append layout (one Spark parquet file set
    per batch) holds rows the snapshot reader never sees; writing to it
    would serve only the groups written since, so it fails and names the
    dir instead.  The snapshot layout itself reopens."""
    path = f"{tmp_path_factory.mktemp('appendserving')}/serving"
    os.makedirs(path)
    rows = spark.createDataFrame(_batch(0), schema=SERVING_SCHEMA).toArrow()
    pq.write_table(rows, f"{path}/part-00000-0.snappy.parquet")
    with pytest.raises(ValueError, match=path):
        ParquetServingWriter(path)

    snap = f"{tmp_path_factory.mktemp('snapshotserving')}/serving"
    ParquetServingWriter(snap).write(spark.createDataFrame(_batch(0), schema=SERVING_SCHEMA).toArrow(), 0)
    ParquetServingWriter(snap).write(spark.createDataFrame(_batch(1), schema=SERVING_SCHEMA).toArrow(), 1)
    assert set(_view(spark, snap)) == {r[-1] for r in _batch(0) + _batch(1)}


def test_mongo_writer_without_its_connector_names_it(spark):
    """The writer takes the batch as Arrow, like every serving writer, and
    builds its DataFrame on the active session; with no mongo-spark
    connector on the classpath Spark fails at once (no data source named
    ``mongodb``), and the error says which package is missing."""
    rows = spark.createDataFrame(_batch(0), schema=SERVING_SCHEMA).toArrow()
    writer = MongoServingWriter("mongodb://localhost:27017", "analytics", "gold")
    with pytest.raises(RuntimeError, match="mongo-spark-connector"):
        writer.write(rows, 0)
