"""``io.sources.batch_files``: the files a file-source micro-batch covers,
read from the query's checkpoint, are the files Spark's own batch reads —
past a source-log compaction, across a restart, and under a root whose
path the source log has to escape.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlsplit

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from kafka_streaming_spark.io.sources import batch_files, file_stream

SCHEMA = StructType([StructField("n", LongType())])


def _write_files(spark, src: str, first: int, count: int) -> list[str]:
    """``count`` one-row parquet files in ``src``; returns their paths."""
    os.makedirs(src, exist_ok=True)
    paths = []
    for n in range(first, first + count):
        path = f"{src}/f{n:03d}.parquet"
        spark.createDataFrame([(n,)], SCHEMA).toPandas().to_parquet(path)
        paths.append(path)
    return paths


def _record(spark, src: str, checkpoint: str, fail_at: int | None = None) -> dict:
    """Drain ``src`` one file per batch; per batch id, the files
    ``batch_files`` names and the files the batch's DataFrame read.  With
    ``fail_at``, the body records that batch and then raises."""
    seen: dict[int, tuple[list[str], list[str]]] = {}

    def body(df, batch_id):
        read = [unquote(urlsplit(r[0]).path) for r in df.select(F.input_file_name()).distinct().collect()]
        seen[batch_id] = (sorted(batch_files(checkpoint, batch_id)), sorted(read))
        if batch_id == fail_at:
            raise RuntimeError("body failed")

    query = (
        file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if fail_at is None:
        query.awaitTermination()
    else:
        with pytest.raises(StreamingQueryException, match="body failed"):
            query.awaitTermination()
    return seen


def test_batch_files_past_a_compaction(spark, tmp_path_factory):
    """Twelve one-file batches: the source log rolls batches 0-9 into
    ``9.compact`` (batch 9 has no file of its own) and batch 10 is a plain
    file again.  Every batch's checkpoint files are the files it read."""
    root = str(tmp_path_factory.mktemp("compact"))
    written = _write_files(spark, f"{root}/src", 0, 12)
    seen = _record(spark, f"{root}/src", f"{root}/ckpt")

    log = set(os.listdir(f"{root}/ckpt/sources/0"))
    assert "9.compact" in log and "9" not in log and "10" in log
    assert sorted(seen) == list(range(12))
    for batch_id, (named, read) in seen.items():
        assert named == read and len(named) == 1, batch_id
    assert sorted(f for named, _ in seen.values() for f in named) == written


def test_batch_files_unchanged_after_a_restart(spark, tmp_path_factory):
    """The body fails at batch 3, new files arrive, and the query restarts
    on the same checkpoint: batch 3 is replayed with the same file, the
    new files come in later batches, and every file is read once."""
    root = str(tmp_path_factory.mktemp("restart"))
    _write_files(spark, f"{root}/src", 0, 5)
    first = _record(spark, f"{root}/src", f"{root}/ckpt", fail_at=3)
    assert sorted(first) == [0, 1, 2, 3]

    written = _write_files(spark, f"{root}/src", 5, 2)
    second = _record(spark, f"{root}/src", f"{root}/ckpt")
    assert second[3] == first[3]
    assert sorted(second) == [3, 4, 5, 6]
    for named, read in second.values():
        assert named == read and len(named) == 1
    batches = {**first, **second}
    assert sorted(f for named, _ in batches.values() for f in named) == sorted(
        f"{root}/src/f{n:03d}.parquet" for n in range(7)
    )
    assert set(written) <= {f for b in (4, 5, 6) for f in second[b][0]}


def test_batch_files_decode_an_escaped_root(spark, tmp_path_factory):
    """The source log stores each path as a URI: a space is ``%20`` and a
    literal ``%20`` in a directory name is ``%2520``.  The paths come back
    as the files on disk."""
    root = f"{tmp_path_factory.mktemp('escaped')}/a root %20 here"
    written = _write_files(spark, f"{root}/src", 0, 2)
    seen = _record(spark, f"{root}/src", f"{root}/ckpt")
    with open(f"{root}/ckpt/sources/0/0") as fh:
        assert "a%20root%20%2520%20here" in fh.read()
    assert sorted(f for named, _ in seen.values() for f in named) == written
    assert all(os.path.isfile(f) for named, _ in seen.values() for f in named)
