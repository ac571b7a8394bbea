"""Golden streaming tests (SURVEY.md §5 item 2-3): replay deterministic
events through the medallion pipeline with availableNow triggers and assert
the incremental gold state equals the batch re-aggregation of the deduped
history (fold ≡ agg∘union), plus duplicate/late-data invariants (FIXTURES.md
F1 adversarial variants).
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from kafka_streaming_spark.ops.aggregates import group_agg
from kafka_streaming_spark.ops.projections import derive_event_columns, normalize_events
from kafka_streaming_spark.schemas import EVENT_SCHEMA, load_table
from kafka_streaming_spark.streaming.pipeline import MedallionPipeline
from tests.conftest import SF_SMALL, replace_rows

#: Spark jobs per micro-batch of one silver insert / one gold commit / one
#: serving write in ``test_commit_jobs_per_micro_batch`` (measured; lower
#: is better).
B2S_JOBS = 1.0
S2G_JOBS = 0.0
G2S_JOBS = 0.0


def _batches(query) -> int:
    """The micro-batches ``query`` ran: its progress entries whose source
    offset advanced.  (Silver→gold and gold→serving read their files on
    the driver, so Spark reports 0 input rows for their batches.)"""
    return sum(p.sources[0].startOffset != p.sources[0].endOffset for p in query.recentProgress)


def _silver_files(pipe, version: int) -> list[str]:
    """The silver file silver commit ``version`` wrote, if any."""
    return sorted(glob.glob(f"{pipe.silver.cdf_dir}/v{version}_insert_*.parquet"))


def _write_event_source(spark, events_df, path, n_files=4):
    """Split events into n event-time-ordered parquet files so availableNow
    sees several micro-batches (maxFilesPerTrigger=1) that replay in
    roughly event-time order — a historical backfill replayed out of order
    would be dropped as late by the watermark, exactly as in the reference
    (the daemon produces near-realtime events, silver.py:63)."""
    (
        events_df.repartitionByRange(n_files, "event_timestamp")
        .sortWithinPartitions("event_timestamp")
        .write.mode("overwrite")
        .parquet(path)
    )


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("medallion"))
    events = normalize_events(load_table(spark, SF_SMALL, "events")).select(
        "id", "group_id", "score", "event_timestamp"
    )
    src = f"{root}/source"
    _write_event_source(spark, events, src)

    from kafka_streaming_spark.io.sources import file_stream

    stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
    # Generous watermark: this is a backfill replay of a month of history,
    # so the lateness bound must cover intra-file disorder.
    pipe = MedallionPipeline(spark, f"{root}/tables", watermark_delay="40 days")
    pipe.start_bronze_to_silver(stream, available_now=True).awaitTermination()
    pipe.start_silver_to_gold(available_now=True).awaitTermination()
    pipe.start_gold_to_serving(available_now=True).awaitTermination()
    return pipe, events


def test_silver_is_event_set(spark, pipeline_result):
    """J1 invariant: silver holds exactly the distinct (bucket, id) set."""
    pipe, events = pipeline_result
    silver = pipe.silver.read()
    assert silver.count() == events.select("id").distinct().count()
    assert silver.groupBy("minute_timestamp", "id").count().filter("count > 1").count() == 0


def test_gold_matches_batch_reaggregation(spark, pipeline_result):
    """A2 ≡ A1-over-history: incremental gold equals one-shot groupBy."""
    pipe, events = pipeline_result
    gold = pipe.gold.read().drop("updated_at")
    expected = group_agg(
        derive_event_columns(events), keys=("group_id",), score_col="score",
        ts_col="event_timestamp",
    )
    g = {r["group_id"]: r for r in gold.collect()}
    e = {r["group_id"]: r for r in expected.collect()}
    assert set(g) == set(e)
    for k in e:
        assert g[k]["event_count"] == e[k]["event_count"], k
        assert g[k]["first_event_timestamp"] == e[k]["first_event_timestamp"], k
        assert g[k]["last_event_timestamp"] == e[k]["last_event_timestamp"], k
        assert g[k]["cumulative_score"] == pytest.approx(e[k]["cumulative_score"], rel=1e-9)
        assert g[k]["avg_score"] == pytest.approx(e[k]["avg_score"], rel=1e-9)


def test_gold_cdf_reaches_serving(spark, pipeline_result):
    """T4/J3: serving view has one (latest) row per group."""
    pipe, _events = pipeline_result
    serving = pipe.serving_view()
    gold = pipe.gold.read()
    assert serving.count() == gold.count()
    merged = serving.select("_id", "event_count").join(
        gold.select(F.col("group_id").alias("_id"), F.col("event_count").alias("gc")), "_id"
    )
    assert merged.filter("event_count != gc").count() == 0


def test_serving_gets_one_row_per_id_when_a_trigger_spans_gold_versions(spark, tmp_path_factory):
    """K3: a gold→serving trigger that spans two gold versions hands the
    writer one row per ``_id``, the newest, so a store that replaces by
    ``_id`` in write order (``MongoServingWriter``) cannot keep a stale
    row; the batch runs no Spark job."""

    class RecordingWriter:
        def __init__(self):
            self.rows = []

        def write(self, rows, batch_id):
            self.rows += rows.to_pylist()

    root = str(tmp_path_factory.mktemp("servingspan"))
    writer = RecordingWriter()
    pipe = MedallionPipeline(spark, root, serving_writer=writer)
    base_ms = 1_700_000_000_000
    batches = [
        [("a", "g1", 1.0, base_ms), ("b", "g2", 2.0, base_ms + 1_000)],
        [("c", "g1", 3.0, base_ms + 2_000)],
    ]
    silver_cols = [f.name for f in pipe.silver.schema.fields]
    for v, rows in enumerate(batches):
        events = derive_event_columns(spark.createDataFrame(rows, schema=EVENT_SCHEMA))
        pipe.silver.insert_if_absent(events.select(*silver_cols), version=v)
        pipe.fold_silver_files(_silver_files(pipe, v), batch_id=v)

    query = pipe.start_gold_to_serving(available_now=True)
    query.awaitTermination()
    assert _batches(query) == 1  # one trigger, both versions
    assert sorted((r["_id"], r["event_count"], r["cumulative_score"]) for r in writer.rows) == [
        ("g1", 2, 4.0), ("g2", 1, 2.0),
    ]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    assert len(jobs) == G2S_JOBS, f"gold_to_serving ran {len(jobs)} jobs for one batch"


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path_factory):
    """K4 exactly-once: a second availableNow run over the SAME checkpoint
    must process only files that arrived after the first run — replayed
    history stays untouched (no duplicate inserts, stable gold counts)."""
    from kafka_streaming_spark.io.generator import EventGenerator
    from kafka_streaming_spark.io.sources import file_stream

    root = str(tmp_path_factory.mktemp("resume"))
    gen = EventGenerator(seed=11, workers=2)
    all_rows = gen.rows(200)
    first, second = all_rows[:250], all_rows[250:]
    src = f"{root}/source"

    pipe = MedallionPipeline(spark, f"{root}/tables", watermark_delay="1 hour")

    spark.createDataFrame(first, schema=EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    stream = file_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=4)
    pipe.start_bronze_to_silver(stream, available_now=True).awaitTermination()
    n_after_first = pipe.silver.read().count()
    assert n_after_first == len({r[0] for r in first})

    # new files arrive; resume from the same checkpoint
    spark.createDataFrame(second, schema=EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream2 = file_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=4)
    pipe.start_bronze_to_silver(stream2, available_now=True).awaitTermination()
    silver = pipe.silver.read()
    assert silver.count() == len({r[0] for r in all_rows})
    assert silver.groupBy("id").count().filter("count > 1").count() == 0


def _checkpoint_manager(session, path: str) -> str:
    """The class of the checkpoint file manager a streaming query started
    on ``session`` writes ``path`` through."""
    jvm = session._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), session._jsparkSession.sessionState().newHadoopConf()
    )
    return manager.getClass().getSimpleName()


def _assert_gold_is_fold(pipe, rows) -> None:
    """Gold equals the pyarrow fold of the events, one per id."""
    first = {r[0]: r for r in reversed(rows)}
    want = (
        pa.Table.from_pylist([dict(zip(EVENT_SCHEMA.names, r)) for r in first.values()])
        .group_by("group_id")
        .aggregate([("score", "sum"), ("score", "count"),
                    ("event_timestamp", "min"), ("event_timestamp", "max")])
        .to_pylist()
    )
    got = {r["group_id"]: r for r in pipe.gold.read().collect()}
    assert sorted(got) == sorted(r["group_id"] for r in want)
    for w in want:
        g = got[w["group_id"]]
        assert (g["event_count"], g["first_event_timestamp"], g["last_event_timestamp"]) == (
            w["score_count"], w["event_timestamp_min"], w["event_timestamp_max"]
        ), w["group_id"]
        assert g["cumulative_score"] == pytest.approx(w["score_sum"], rel=1e-9), w["group_id"]


def test_pipeline_checkpoints_use_file_system_manager_and_keep_checksums(spark, pipeline_result):
    """The pipeline writes its local checkpoints through Spark's FileSystem
    manager and keeps every integrity check: every offset and commit file
    keeps Hadoop's ``.crc`` sidecar.  Bronze→silver keeps no state store,
    so its checkpoint has no ``state/`` dir.  The switch is the pipeline
    session's own: a new session keeps Spark's default manager."""
    pipe, _events = pipeline_result
    checkpoints = f"{pipe.root}/_checkpoints"
    assert _checkpoint_manager(pipe.spark, checkpoints) == "FileSystemBasedCheckpointFileManager"

    b2s = f"{checkpoints}/bronze_to_silver"
    assert not os.path.exists(f"{b2s}/state")
    for log in ("offsets", "commits"):
        names = set(os.listdir(f"{b2s}/{log}"))
        batches = [n for n in names if n.isdigit()]
        assert batches, log
        assert all(f".{n}.crc" in names for n in batches), f"{log} lost a .crc sidecar"

    assert _checkpoint_manager(spark.newSession(), checkpoints) == "FileContextBasedCheckpointFileManager"


def test_gold_keeps_two_state_files_and_redoes_from_the_prior_state(spark, tmp_path_factory, monkeypatch):
    """Each gold commit holds the full state, and the pipeline keeps the
    newest two: a multi-batch drain leaves two state files, a replayed
    batch id still reads as applied, and a commit that crashed before its
    state rename is redone from the state file before it.  Gold is the
    pyarrow fold of every event throughout."""
    from kafka_streaming_spark.io import sinks
    from kafka_streaming_spark.io.generator import EventGenerator
    from kafka_streaming_spark.io.sources import file_stream
    from tests.conftest import Crash, _arm

    root = str(tmp_path_factory.mktemp("goldkeeps"))
    rows = EventGenerator(seed=12, workers=2).rows(200)
    drained, held = rows[:-40], rows[-40:]
    _write_event_source(spark, spark.createDataFrame(drained, schema=EVENT_SCHEMA), f"{root}/source")
    pipe = MedallionPipeline(spark, f"{root}/tables", watermark_delay="1 hour")
    stream = file_stream(spark, f"{root}/source", EVENT_SCHEMA, max_files_per_trigger=1)
    pipe.start_bronze_to_silver(stream, available_now=True).awaitTermination()
    pipe.start_silver_to_gold(available_now=True, max_files_per_trigger=1).awaitTermination()

    gold_data = f"{root}/tables/gold/data"
    silver_versions = sorted(
        int(n[1:].split("_")[0]) for n in os.listdir(pipe.silver.cdf_dir) if n.endswith(".parquet")
    )
    assert len(silver_versions) >= 3  # one gold batch per silver commit
    last = len(silver_versions) - 1
    assert sorted(os.listdir(gold_data)) == [f"v_{last - 1}.parquet", f"v_{last}.parquet"]
    _assert_gold_is_fold(pipe, drained)

    # replay: the last batch id re-offered after a lost checkpoint commit
    pipe.fold_silver_files(_silver_files(pipe, silver_versions[-1]), last)
    _assert_gold_is_fold(pipe, drained)

    # redo: the next commit crashes before its state rename, then is re-offered
    version = silver_versions[-1] + 1
    pipe.silver.insert_if_absent(
        derive_event_columns(spark.createDataFrame(held, schema=EVENT_SCHEMA)).select(
            *pipe.silver.schema.fieldNames()
        ),
        version=version,
    )
    batch = _silver_files(pipe, version)
    with monkeypatch.context() as m:
        _arm(m, sinks.os, "rename", lambda a, calls: "/gold/data/" in str(a[1]))
        with pytest.raises(Crash):
            pipe.fold_silver_files(batch, last + 1)
    assert not pipe.gold.version_applied(last + 1)
    assert sorted(os.listdir(gold_data)) == [f"v_{last - 1}.parquet", f"v_{last}.parquet"]
    pipe.fold_silver_files(batch, last + 1)
    assert sorted(os.listdir(gold_data)) == [f"v_{last}.parquet", f"v_{last + 1}.parquet"]
    _assert_gold_is_fold(pipe, rows)


def test_table_file_metrics_read_the_drained_layout(spark, tmp_path_factory, monkeypatch):
    """The benchmark's file counts (``perfbench/streaming.py::
    table_file_metrics``) glob the tables' layouts; a layout change that
    slipped past its glob would report 0 instead of failing.  After a
    small drain each count equals what the tables hold: two gold state
    files, one serving snapshot, one silver file per silver commit and
    one gold change-feed file per commit and change type."""
    perfbench = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
    monkeypatch.syspath_prepend(perfbench)
    from streaming import table_file_metrics

    from kafka_streaming_spark.io.generator import EventGenerator
    from kafka_streaming_spark.io.sources import file_stream

    root = str(tmp_path_factory.mktemp("filemetrics"))
    events = spark.createDataFrame(EventGenerator(seed=13, workers=2).rows(100), schema=EVENT_SCHEMA)
    _write_event_source(spark, events, f"{root}/source")
    pipe = MedallionPipeline(spark, f"{root}/tables", watermark_delay="1 hour")
    stream = file_stream(spark, f"{root}/source", EVENT_SCHEMA, max_files_per_trigger=1)
    pipe.start_bronze_to_silver(stream, available_now=True).awaitTermination()
    pipe.start_silver_to_gold(available_now=True, max_files_per_trigger=1).awaitTermination()
    pipe.start_gold_to_serving(available_now=True).awaitTermination()

    silver_commits = {r[0] for r in pipe.silver.read_cdf().select("_commit_version").distinct().collect()}
    gold_feed = pipe.gold.read_cdf().select("_commit_version", "_change_type").distinct().count()
    assert len(silver_commits) >= 3
    assert table_file_metrics(f"{root}/tables") == {
        "silver.files": len(silver_commits),
        "gold.versions": 2,
        "gold.cdf_files": gold_feed,
        "serving.files": 1,
    }


def test_resume_from_checkpoints_written_by_the_default_manager(spark, tmp_path_factory):
    """Upgrade in place: a root whose checkpoints a pipeline wrote through
    Spark's default FileContext manager resumes under the FileSystem
    manager.  Each id lands in silver once, and gold and serving are the
    pyarrow fold of every event."""
    from kafka_streaming_spark.io.generator import EventGenerator
    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.pipeline import CHECKPOINT_MANAGER_CONF

    root = str(tmp_path_factory.mktemp("managerupgrade"))
    rows = EventGenerator(seed=11, workers=2).rows(200)
    first, second = rows[:250], rows[250:]
    src = f"{root}/source"

    old = spark.newSession()
    old_pipe = MedallionPipeline(old, f"{root}/tables", watermark_delay="1 hour")
    old.conf.unset(CHECKPOINT_MANAGER_CONF)  # the checkpoints of a pipeline that set no manager
    assert _checkpoint_manager(old, root) == "FileContextBasedCheckpointFileManager"
    old.createDataFrame(first, schema=EVENT_SCHEMA).coalesce(1).write.parquet(src)
    old_pipe.run_available_now(file_stream(old, src, EVENT_SCHEMA, max_files_per_trigger=4))
    assert old_pipe.silver.read().count() == len({r[0] for r in first})

    spark.createDataFrame(second, schema=EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    pipe = MedallionPipeline(spark, f"{root}/tables", watermark_delay="1 hour")
    pipe.run_available_now(file_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=4))
    ids = [r["id"] for r in pipe.silver.read().select("id").collect()]
    assert sorted(ids) == sorted({r[0] for r in rows})
    _assert_gold_is_fold(pipe, rows)
    serving = {r["_id"]: r["event_count"] for r in pipe.serving_view().collect()}
    assert serving == {r["group_id"]: r["event_count"] for r in pipe.gold.read().collect()}


def test_scoped_conf_gives_back_each_value_also_when_the_body_raises(spark):
    """``session.scoped_conf`` (the registry's witness drains pin their
    state store with it) sets its confs for the ``with`` body only: a key
    that had a value gets it back and one that had none is unset, also
    when the body raises."""
    from kafka_streaming_spark.session import (
        HDFS_STATE_STORE,
        ROCKSDB_STATE_STORE,
        STATE_STORE_PROVIDER_CONF,
        scoped_conf,
    )

    unset = "spark.kss.test.scoped"
    assert spark.conf.get(STATE_STORE_PROVIDER_CONF) == ROCKSDB_STATE_STORE
    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, {STATE_STORE_PROVIDER_CONF: HDFS_STATE_STORE, unset: "1"}):
            assert spark.conf.get(STATE_STORE_PROVIDER_CONF) == HDFS_STATE_STORE
            assert spark.conf.get(unset) == "1"
            raise RuntimeError("body failed")
    assert spark.conf.get(STATE_STORE_PROVIDER_CONF) == ROCKSDB_STATE_STORE
    assert spark.conf.get(unset, None) is None


def _tree(path: str) -> list[str]:
    return sorted(os.path.join(d, n) for d, dirs, names in os.walk(path) for n in dirs + names)


_OLD_ROWS = [("a", "g1", 1.0, 1_700_000_000_000), ("b", "g2", 2.0, 1_700_000_060_000)]


def test_old_silver_root_is_refused(spark, tmp_path_factory):
    """A silver root from before the stateless bronze→silver query is
    refused, not upgraded, with a ``ValueError`` that names its
    ``data/append`` dir, before anything is written.  Its files carry no
    event-time range in their names, which the watermark and the probe
    read: neither the ``v<N>_insert_<uuid>`` files of the one-file commit
    nor the files Spark's parquet writer wrote before it
    (``v<N>_insert_part-…``)."""
    import re

    import pyarrow.parquet as pq

    from kafka_streaming_spark.schemas import SILVER_SCHEMA

    root = str(tmp_path_factory.mktemp("oldsilver"))
    silver_rows = derive_event_columns(spark.createDataFrame(_OLD_ROWS, schema=EVENT_SCHEMA)).select(
        *SILVER_SCHEMA.fieldNames()
    )
    spark_written = f"{root}/spark_written"
    silver_rows.coalesce(1).write.parquet(spark_written)
    (part,) = [n for n in os.listdir(spark_written) if n.endswith(".parquet")]
    for tag, name in [("one_file", "v0_insert_0f1e2d3c.parquet"), ("spark", f"v0_insert_{part}")]:
        append = f"{root}/{tag}/silver/data/append"
        os.makedirs(append)
        pq.write_table(silver_rows.toArrow(), f"{append}/{name}")
        before = _tree(f"{root}/{tag}")
        with pytest.raises(ValueError, match=re.escape(append)):
            MedallionPipeline(spark, f"{root}/{tag}")
        assert _tree(f"{root}/{tag}") == before


def test_old_b2s_checkpoint_is_refused(spark, tmp_path_factory):
    """A bronze→silver checkpoint written by the stream dedup the query
    ran before holds a ``state/`` dir; starting the stateless query on it
    raises a ``ValueError`` that names the checkpoint, before anything is
    written."""
    import re

    from kafka_streaming_spark.io.sources import file_stream

    root = str(tmp_path_factory.mktemp("oldckpt"))
    tables, src = f"{root}/stateful", f"{root}/source"
    b2s = f"{tables}/_checkpoints/bronze_to_silver"
    spark.createDataFrame(_OLD_ROWS, schema=EVENT_SCHEMA).coalesce(1).write.parquet(src)
    (  # the stream dedup the bronze→silver query ran before
        file_stream(spark, src, EVENT_SCHEMA)
        .withColumn("timestamp", F.timestamp_millis("event_timestamp"))
        .withWatermark("timestamp", "1 hour")
        .dropDuplicatesWithinWatermark(["id"])
        .writeStream.format("noop")
        .option("checkpointLocation", b2s)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert os.path.isdir(f"{b2s}/state")
    pipe = MedallionPipeline(spark, tables)
    before = _tree(tables)
    with pytest.raises(ValueError, match=re.escape(b2s)):
        pipe.start_bronze_to_silver(file_stream(spark, src, EVENT_SCHEMA))
    assert _tree(tables) == before


def test_b2s_drops_late_rows_and_probes_only_files_in_range(spark, tmp_path_factory, monkeypatch):
    """Silver's watermark is its newest event time less
    ``watermark_delay``, read from its file names.  After eight commits
    ten minutes apart in event time, a ninth file carries a new id older
    than the watermark, dropped as late; a row inside the watermark that
    repeats an id already in silver, dropped by the anti-join; and new
    rows, inserted.  Its probe opens only the one file whose event-time
    range reaches the batch's oldest 180 s bucket, not all eight: the file
    list ``ds.dataset`` receives."""
    from kafka_streaming_spark.io import sinks
    from kafka_streaming_spark.io.sources import file_stream

    root = str(tmp_path_factory.mktemp("latedrop"))
    src = f"{root}/source"
    base_ms = 1_700_000_000_000

    def arrive(rows):
        spark.createDataFrame(rows, schema=EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    for f in range(8):
        arrive([(f"e{f}_{i}", f"g{i % 3}", float(i), base_ms + f * 600_000 + i * 1_000) for i in range(5)])
    with pytest.raises(ValueError):
        MedallionPipeline(spark, f"{root}/tables", watermark_delay="1 fortnight")
    pipe = MedallionPipeline(spark, f"{root}/tables", watermark_delay="1 minute")
    pipe.start_bronze_to_silver(file_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)).awaitTermination()
    files = sorted(os.listdir(pipe.silver.cdf_dir))
    assert len(files) == 8
    (newest_file,) = [n for n in files if n.startswith("v7_")]

    newest = ("e7_4", "g1", 4.0, base_ms + 7 * 600_000 + 4_000)
    arrive([
        ("late", "g0", 9.0, newest[3] - 120_000),  # older than newest - 1 minute
        newest,  # inside the watermark, already in silver
        *[(f"n{i}", "g2", 1.0, newest[3] + (i + 1) * 1_000) for i in range(3)],
    ])
    probes = []
    dataset = sinks.ds.dataset

    def spy(source, *args, **kwargs):
        probes.append(source)
        return dataset(source, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(sinks.ds, "dataset", spy)
        query = pipe.start_bronze_to_silver(file_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1))
        query.awaitTermination()
    assert not any(p["stateOperators"] for p in query.recentProgress)  # a stateless query
    assert probes == [[f"{pipe.silver.cdf_dir}/{newest_file}"]]
    ids = Counter(r["id"] for r in pipe.silver.read().select("id").collect())
    assert "late" not in ids
    assert ids["e7_4"] == 1
    assert sorted(ids) == sorted([f"e{f}_{i}" for f in range(8) for i in range(5)] + ["n0", "n1", "n2"])


def test_running_counter_stateful(spark, tmp_path_factory):
    """Custom stateful operator (applyInPandasWithState): per-key running
    (count, sum) across micro-batches must converge to the batch groupBy."""
    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import running_counter

    root = str(tmp_path_factory.mktemp("stateful"))
    events = normalize_events(load_table(spark, SF_SMALL, "events")).select(
        "group_id", "score"
    )
    src = f"{root}/source"
    events.repartition(3).write.mode("overwrite").parquet(src)

    stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
    final: dict[str, tuple[int, float]] = {}

    def capture(batch_df, _batch_id):
        for r in batch_df.collect():
            final[r["group_id"]] = (r["event_count"], r["cumulative_score"])

    (
        running_counter(stream)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    expected = {
        r["group_id"]: (r["n"], r["s"])
        for r in events.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("score").alias("s"))
        .collect()
    }
    assert set(final) == set(expected)
    for k, (n, s) in expected.items():
        assert final[k][0] == n, k
        assert final[k][1] == pytest.approx(s, rel=1e-9), k


def test_running_counter_transform_with_state(spark, tmp_path_factory):
    """The transformWithState variant must converge to the same totals as
    the batch groupBy (and hence as the applyInPandasWithState variant).
    Skipped only where NO protobuf runtime can be located — the compat
    layer (streaming/protobuf_compat.py) unblocks this container via the
    Google Cloud SDK's pure-Python runtime, so this runs here (r9; it was
    import-skipped through r8)."""
    from kafka_streaming_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    if ensure_protobuf() is None:
        pytest.skip("no google.protobuf runtime available")
    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import running_counter_tws

    root = str(tmp_path_factory.mktemp("tws"))
    events = normalize_events(load_table(spark, SF_SMALL, "events")).select(
        "group_id", "score"
    )
    src = f"{root}/source"
    events.repartition(3).write.mode("overwrite").parquet(src)

    stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
    final: dict[str, tuple[int, float]] = {}

    def capture(batch_df, _batch_id):
        for r in batch_df.collect():
            final[r["group_id"]] = (r["event_count"], r["cumulative_score"])

    (
        running_counter_tws(stream)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    expected = {
        r["group_id"]: (r["n"], r["s"])
        for r in events.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("score").alias("s"))
        .collect()
    }
    assert set(final) == set(expected)
    for k, (n, s) in expected.items():
        assert final[k][0] == n, k
        assert final[k][1] == pytest.approx(s, rel=1e-9), k


def test_stream_stream_interval_join(spark, tmp_path_factory):
    """Watermarked stream-stream interval join: purchases matched to same-
    user clicks within the 2 h lookback.  The streaming result must equal
    the identical interval_join run as one batch query."""
    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.joins import interval_join

    root = str(tmp_path_factory.mktemp("ssjoin"))
    e = load_table(spark, SF_SMALL, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    for name, df in (("purchases", purchases), ("clicks", clicks)):
        df.orderBy(name[0] + "_ts").coalesce(2).write.mode("overwrite").parquet(
            f"{root}/{name}"
        )

    kw = dict(
        left_key="p_user", right_key="c_user", left_ts="p_ts", right_ts="c_ts",
        watermark="40 days", lookback="2 hours",
    )
    expected = {
        (r["p_id"], r["c_id"])
        for r in interval_join(purchases, clicks, **kw).collect()
    }
    assert expected  # data has same-user click→purchase sequences

    got: set = set()

    def capture(batch_df, _bid):
        got.update((r["p_id"], r["c_id"]) for r in batch_df.collect())

    sp = file_stream(spark, f"{root}/purchases", purchases.schema, max_files_per_trigger=1)
    sc_ = file_stream(spark, f"{root}/clicks", clicks.schema, max_files_per_trigger=1)
    (
        interval_join(sp, sc_, **kw)
        .writeStream.outputMode("append")
        .foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert got == expected


def test_duplicate_replay_is_idempotent(spark, tmp_path_factory):
    """FIXTURES.md F1 adversarial: exact duplicates within AND beyond the
    watermark window, replayed twice — silver row-set invariant (J1), gold
    counts stable.  ``a`` comes in two 180 s buckets; the second input
    sends the newer-bucket ``a`` first."""
    from kafka_streaming_spark.io.sources import file_stream

    base_ms = 1_700_000_000_000
    rows = [
        # (id, group, score, ts_ms)
        ("a", "g1", 1.0, base_ms),
        ("a", "g1", 1.0, base_ms),               # dup within watermark
        ("b", "g1", 2.0, base_ms + 5_000),
        ("c", "g2", 3.0, base_ms + 10_000),
        ("a", "g1", 1.0, base_ms + 120_000),     # dup far beyond 30 s watermark, next bucket
        ("d", "g2", 4.0, base_ms + 125_000),
    ]
    for rows in (rows, rows[4:5] + rows[:4] + rows[5:]):
        root = str(tmp_path_factory.mktemp("dupes"))
        events = spark.createDataFrame(rows, schema=EVENT_SCHEMA)
        src = f"{root}/source"
        events.coalesce(1).write.mode("overwrite").parquet(src)
        # replay the same file set a second time (new files, same rows)
        events.coalesce(1).write.mode("append").parquet(src)

        pipe = MedallionPipeline(spark, f"{root}/tables")
        stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
        pipe.start_bronze_to_silver(stream, available_now=True).awaitTermination()
        pipe.start_silver_to_gold(available_now=True).awaitTermination()

        silver = pipe.silver.read()
        # The rule is ``ParquetAppendTable.insert_if_absent``'s: the first
        # ``a`` of a batch is kept whatever its bucket, then the rows older
        # than silver's watermark are dropped, then the rows already in
        # silver.  Batch 1 lands one a, b, c and d; its replay drops the
        # rows older than d's time less 30 s as late and the rest as present.
        assert silver.count() == 4
        assert sorted(r["id"] for r in silver.collect()) == ["a", "b", "c", "d"]
        # Idempotency: the replay (batch 2) added nothing.
        gold = pipe.gold.read()
        total = gold.agg(F.sum("event_count")).collect()[0][0]
        assert total == 4


def test_gold_batch_replay_same_batch_id_is_noop(spark, tmp_path_factory):
    """foreachBatch replay guard (micro-batch retry semantics): if the query
    dies after the gold commit but before the checkpoint commit, the same
    batch_id is re-offered on restart — the running totals must not fold the
    same micro-batch twice."""
    root = str(tmp_path_factory.mktemp("goldreplay"))
    base_ms = 1_700_000_000_000
    rows = [
        ("a", "g1", 1.0, base_ms),
        ("b", "g1", 2.0, base_ms + 1_000),
        ("c", "g2", 3.0, base_ms + 2_000),
    ]
    events = spark.createDataFrame(rows, schema=EVENT_SCHEMA)
    pipe = MedallionPipeline(spark, f"{root}/tables")
    silver_rows = derive_event_columns(events).select(
        *[f.name for f in pipe.silver.schema.fields]
    )
    pipe.silver.insert_if_absent(silver_rows, version=0)
    cdf_batch = _silver_files(pipe, 0)

    pipe.fold_silver_files(cdf_batch, batch_id=0)
    state_once = sorted(
        (r["group_id"], r["cumulative_score"], r["event_count"])
        for r in pipe.gold.read().collect()
    )
    assert [(g, n) for g, _s, n in state_once] == [("g1", 2), ("g2", 1)]

    # replay: same batch content, same batch_id → must be a no-op
    pipe.fold_silver_files(cdf_batch, batch_id=0)
    state_twice = sorted(
        (r["group_id"], r["cumulative_score"], r["event_count"])
        for r in pipe.gold.read().collect()
    )
    assert state_twice == state_once
    # a NEW batch id with new content still folds normally
    more = spark.createDataFrame(
        [("d", "g1", 5.0, base_ms + 3_000)], schema=EVENT_SCHEMA
    )
    pipe.silver.insert_if_absent(
        derive_event_columns(more).select(*[f.name for f in pipe.silver.schema.fields]),
        version=1,
    )
    new_cdf = _silver_files(pipe, 1)
    pipe.fold_silver_files(new_cdf, batch_id=1)
    per_group = {r["group_id"]: r["event_count"] for r in pipe.gold.read().collect()}
    assert per_group == {"g1": 3, "g2": 1}


def test_commit_jobs_per_micro_batch(spark, tmp_path_factory):
    """One Spark job per event, in b2s: a silver insert runs its one fetch
    job, and a gold commit and a serving write run none (they read their
    batch's files on the driver).  Every job of a streaming micro-batch
    runs under its query's runId job group, so StatusTracker counts them
    per stage; the count is spread over the batches the query ran (its
    source offset advanced), as the benchmark's ``jobs_per_batch``.  No
    query has a stateful operator, so availableNow runs no trailing
    no-data batch."""
    from kafka_streaming_spark.io.sources import file_stream

    root = str(tmp_path_factory.mktemp("jobcount"))
    base_ms = 1_700_000_000_000
    src = f"{root}/source"
    for f in range(2):
        rows = [
            (f"e{f}_{i}", f"g{i % 5}", float(i), base_ms + (f * 40 + i) * 1_000)
            for i in range(40)
        ]
        spark.createDataFrame(rows, schema=EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    pipe = MedallionPipeline(spark, f"{root}/tables", watermark_delay="1 hour")
    tracker = spark.sparkContext.statusTracker()

    def jobs_per_batch(query) -> float:
        query.awaitTermination()
        batches = _batches(query)
        assert batches >= 1
        return len(tracker.getJobIdsForGroup(str(query.runId))) / batches

    stream = file_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    b2s = jobs_per_batch(pipe.start_bronze_to_silver(stream, available_now=True))
    s2g = jobs_per_batch(pipe.start_silver_to_gold(available_now=True, max_files_per_trigger=1))
    g2s = jobs_per_batch(pipe.start_gold_to_serving(available_now=True, max_files_per_trigger=1))
    assert pipe.gold.read().agg(F.sum("event_count")).collect()[0][0] == 80
    assert sum(r["event_count"] for r in pipe.serving_view().collect()) == 80
    assert b2s == B2S_JOBS, f"bronze_to_silver ran {b2s} jobs per batch"
    assert s2g == S2G_JOBS, f"silver_to_gold ran {s2g} jobs per batch"
    assert g2s == G2S_JOBS, f"gold_to_serving ran {g2s} jobs per batch"


def test_concurrent_live_pipeline(spark, tmp_path_factory):
    """T6 in the reference's real deployment shape (main.py:12-20): all
    three stages run CONCURRENTLY with processingTime triggers while the
    source keeps growing; gold must converge to the batch re-aggregation of
    the full deduped history, and serving must converge to gold."""
    import time

    root = str(tmp_path_factory.mktemp("live"))
    base_ms = 1_700_000_000_000

    def batch_rows(offset, n, group):
        return [
            (f"id{offset + i}", group, float(i % 7), base_ms + (offset + i) * 1_000)
            for i in range(n)
        ]

    first = spark.createDataFrame(
        batch_rows(0, 40, "g1") + batch_rows(1000, 40, "g2"), schema=EVENT_SCHEMA
    )
    src = f"{root}/source"
    first.coalesce(1).write.mode("overwrite").parquet(src)

    from kafka_streaming_spark.io.sources import file_stream

    pipe = MedallionPipeline(spark, f"{root}/tables", watermark_delay="1 hour")
    stream = file_stream(spark, src, first.schema, max_files_per_trigger=4)
    queries = pipe.start_all_live(stream)
    try:
        assert all(q.isActive for q in queries)
        # keep feeding while the three queries run concurrently
        second = spark.createDataFrame(
            batch_rows(40, 30, "g1") + batch_rows(2000, 25, "g3"), schema=EVENT_SCHEMA
        )
        second.coalesce(1).write.mode("append").parquet(src)

        expected = {"g1": 70, "g2": 40, "g3": 25}
        deadline = time.monotonic() + 120
        per_group: dict[str, int] = {}
        while time.monotonic() < deadline:
            gold = pipe.gold.read()
            per_group = {r["group_id"]: r["event_count"] for r in gold.collect()}
            if per_group == expected:
                break
            time.sleep(2)
        assert per_group == expected, f"gold never converged: {per_group}"

        # serving converges to the same state (J3 last-writer-wins view)
        deadline = time.monotonic() + 60
        serving_counts: dict[str, int] = {}
        while time.monotonic() < deadline:
            try:
                serving_counts = {
                    r["_id"]: r["event_count"] for r in pipe.serving_view().collect()
                }
            except Exception:
                serving_counts = {}
            if serving_counts == expected:
                break
            time.sleep(2)
        assert serving_counts == expected, f"serving never converged: {serving_counts}"
        assert all(q.isActive for q in queries)  # nothing crashed en route
    finally:
        pipe.stop_all(queries)
    assert not any(q.isActive for q in queries)


def test_serving_writer_interface(spark, tmp_path_factory):
    """K3 pluggability: a custom writer observes every serving batch; the
    mongo writer exposes the reference's option bundle (config.py:62-77)
    without needing the connector at import time."""
    from kafka_streaming_spark.io.serving import MongoServingWriter, ParquetServingWriter

    class RecordingWriter:
        def __init__(self, path):
            self.inner = ParquetServingWriter(path)
            self.batches = 0

        def write(self, df, batch_id):
            self.batches += 1
            self.inner.write(df, batch_id)

    root = str(tmp_path_factory.mktemp("servingif"))
    rec = RecordingWriter(f"{root}/tables/serving")
    events = spark.createDataFrame(
        [("a", "g1", 1.0, 1_700_000_000_000), ("b", "g2", 2.0, 1_700_000_001_000)],
        schema=EVENT_SCHEMA,
    )
    src = f"{root}/source"
    events.coalesce(1).write.mode("overwrite").parquet(src)

    from kafka_streaming_spark.io.sources import file_stream

    pipe = MedallionPipeline(spark, f"{root}/tables", serving_writer=rec)
    stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
    pipe.start_bronze_to_silver(stream, available_now=True).awaitTermination()
    pipe.start_silver_to_gold(available_now=True).awaitTermination()
    pipe.start_gold_to_serving(available_now=True).awaitTermination()
    assert rec.batches >= 1
    assert {r["_id"] for r in pipe.serving_view().collect()} == {"g1", "g2"}

    mongo = MongoServingWriter("mongodb://localhost:27017", "analytics", "gold")
    assert mongo.options() == {
        "connection.uri": "mongodb://localhost:27017",
        "database": "analytics",
        "collection": "gold",
    }


def test_traced_benchmark_wraps_methods_that_exist(spark, tmp_path_factory, monkeypatch):
    """The benchmark's traced run (``perfbench/tracing.py``) wraps package
    methods by name, through perfbench's stamped serving writer; a renamed
    or deleted method would break only traced runs.  Drain a small source
    through a pipeline wired as the benchmark wires it, and check every
    wrapped layer recorded a span."""
    perfbench = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
    monkeypatch.syspath_prepend(perfbench)
    from streaming import StampedServingWriter
    from tracing import Tracer

    from kafka_streaming_spark.io.serving import ParquetServingWriter
    from kafka_streaming_spark.io.sources import file_stream

    root = str(tmp_path_factory.mktemp("traced"))
    events = spark.createDataFrame(
        [("a", "g1", 1.0, 1_700_000_000_000), ("b", "g2", 2.0, 1_700_000_001_000)],
        schema=EVENT_SCHEMA,
    )
    events.coalesce(1).write.mode("overwrite").parquet(f"{root}/source")
    writer = StampedServingWriter(ParquetServingWriter(f"{root}/tables/serving"))
    pipe = MedallionPipeline(spark, f"{root}/tables", serving_writer=writer)
    tracer = Tracer()
    tracer.instrument_pipeline(pipe)
    pipe.run_available_now(file_stream(spark, f"{root}/source", EVENT_SCHEMA, max_files_per_trigger=1))
    assert pipe.gold.read().count() == 2
    assert {r["_id"] for r in pipe.serving_view().collect()} == {"g1", "g2"}
    assert writer.returned_at
    assert {s["name"] for s in tracer.spans} >= {
        "silver.insert", "gold.upsert", "gold.read_buckets",
        "serving.write", "serving.compact", "serving.view",
    }


def test_cdf_emits_preimages_and_t4_routing(spark, tmp_path_factory):
    """T4 against ALL FOUR change types: the gold upsert emulation now
    emits real update_preimage rows next to postimages; synthetic delete
    rows complete the matrix.  Gold folds only inserts; serving drops only
    preimages — the reference's routing filters (gold.py:57, tomongo.py:26)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from kafka_streaming_spark.io.sinks import ParquetUpsertTable
    from kafka_streaming_spark.schemas import GOLD_SCHEMA

    root = str(tmp_path_factory.mktemp("cdftypes"))
    gold = ParquetUpsertTable(spark, f"{root}/gold", GOLD_SCHEMA, keys=("group_id",))

    def mk_state(rows):
        return spark.createDataFrame(rows, schema=GOLD_SCHEMA)

    s0 = [("g1", 1.0, 1, 1.0, 0, 0, 0), ("g2", 2.0, 1, 2.0, 0, 0, 0)]
    gold.upsert_state(mk_state(s0).toArrow(), version=0, combine=replace_rows)
    # v1 changes g1 and adds g3, a key the table has never held
    s1 = [("g1", 4.0, 2, 2.0, 0, 5, 1), ("g2", 2.0, 1, 2.0, 0, 0, 0), ("g3", 7.0, 1, 7.0, 0, 5, 1)]
    changed = mk_state([r for r in s1 if r[0] != "g2"])
    gold.upsert_state(changed.toArrow(), version=1, combine=replace_rows)

    cdf = gold.read_cdf()
    by_type = {
        r["_change_type"]: r["cnt"]
        for r in cdf.groupBy("_change_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    # v0: 2 inserts; v1: 1 preimage (g1 old row) + 1 postimage (g1 new row)
    # + 1 insert (g3, first seen at v1)
    assert by_type == {"insert": 3, "update_preimage": 1, "update_postimage": 1}
    pre = cdf.filter("_change_type = 'update_preimage'").collect()
    assert len(pre) == 1 and pre[0]["cumulative_score"] == 1.0  # the OLD row
    assert pre[0]["group_id"] == "g1"
    post = cdf.filter("_change_type = 'update_postimage'").collect()
    assert len(post) == 1 and post[0]["group_id"] == "g1"
    assert post[0]["cumulative_score"] == 4.0  # the NEW row
    # Delta labels a key's first write ``insert`` whatever the version
    g3 = [(r["_change_type"], r["_commit_version"]) for r in cdf.filter("group_id = 'g3'").collect()]
    assert g3 == [("insert", 1)]

    # full four-type matrix through the T4 filters (synthetic delete row)
    delete_rows = cdf.limit(1).withColumn("_change_type", F.lit("delete"))
    all_types = cdf.unionByName(delete_rows)
    gold_route = all_types.filter(
        ~F.col("_change_type").isin("update_postimage", "update_preimage", "delete")
    )
    assert {r["_change_type"] for r in gold_route.collect()} == {"insert"}
    serving_route = all_types.filter("_change_type != 'update_preimage'")
    assert {r["_change_type"] for r in serving_route.collect()} == {
        "insert", "update_postimage", "delete",
    }


def test_cdf_metadata_reads_the_file_name_not_the_root(spark, tmp_path_factory):
    """``_commit_version`` and ``_change_type`` come from a change-feed
    file's own name: under a root whose path holds a directory named like
    a feed file (``v1_run``), silver's and gold's feeds still read each
    row's own version and type."""
    root = f"{tmp_path_factory.mktemp('cdfroot')}/v1_run/v2_insert_tables"
    pipe = MedallionPipeline(spark, root)
    silver_cols = pipe.silver.schema.fieldNames()
    base_ms = 1_700_000_000_000
    for v in range(3):
        events = [(f"e{v}_{g}", f"g{g}", 1.0, base_ms + v * 60_000 + g) for g in range(v + 1)]
        pipe.silver.insert_if_absent(
            derive_event_columns(spark.createDataFrame(events, schema=EVENT_SCHEMA)).select(*silver_cols),
            version=v,
        )
        pipe.fold_silver_files(_silver_files(pipe, v), v)

    silver = pipe.silver.read_cdf().collect()
    assert sorted((r["_commit_version"], r["id"]) for r in silver) == [
        (v, f"e{v}_{g}") for v in range(3) for g in range(v + 1)
    ]
    assert {r["_change_type"] for r in silver} == {"insert"}
    gold = pipe.gold.read_cdf().collect()
    want = [
        (0, "insert", "g0"),
        (1, "insert", "g1"), (1, "update_postimage", "g0"), (1, "update_preimage", "g0"),
        (2, "insert", "g2"),
        (2, "update_postimage", "g0"), (2, "update_postimage", "g1"),
        (2, "update_preimage", "g0"), (2, "update_preimage", "g1"),
    ]
    assert sorted((r["_commit_version"], r["_change_type"], r["group_id"]) for r in gold) == want
    # the driver-side read gold→serving uses labels the rows the same way
    feed = pipe.gold.read_feed_files(glob.glob(f"{pipe.gold.cdf_dir}/*.parquet")).to_pylist()
    assert sorted((r["_commit_version"], r["_change_type"], r["group_id"]) for r in feed) == want


def test_upsert_random_commit_sequences(spark, tmp_path_factory, monkeypatch):
    """Property-style torture of the versioned state store: a
    deterministic pseudo-random sequence of commits (varying key subsets),
    interleaved replays (same version re-offered), a crash-redo (crash
    before the state rename: the version is redone from the state below
    it) and a crash-roll-forward (crash after the state rename: the
    re-offer only lands the staged change feed) — after every step, read()
    must equal a plain dict fold of the same sequence, every commit after
    the first reads exactly one prior state file, the one below it, and
    ``data/`` holds exactly the newest two state files."""
    import os
    import random
    import shutil

    from kafka_streaming_spark.io import sinks
    from kafka_streaming_spark.io.sinks import ParquetUpsertTable
    from kafka_streaming_spark.schemas import GOLD_SCHEMA
    from tests.conftest import Crash, _arm

    rng = random.Random(42)
    root = str(tmp_path_factory.mktemp("torture"))
    gold = ParquetUpsertTable(spark, f"{root}/gold", GOLD_SCHEMA, keys=("group_id",))
    keys = [f"g{i}" for i in range(30)]
    ref: dict[str, float] = {}
    reads: list[str] = []
    read_table = sinks.pq.read_table

    def counted_read(path, **kw):
        reads.append(path)
        return read_table(path, **kw)

    monkeypatch.setattr(sinks.pq, "read_table", counted_read)

    def mk_state(rows):
        return spark.createDataFrame(
            [(k, v, 1, v, 0, 0, 0) for k, v in rows], schema=GOLD_SCHEMA
        ).toArrow()

    def upsert(rows, version, prior_read=True):
        reads.clear()
        applied = gold.upsert_state(rows, version=version, combine=replace_rows)
        want = [f"{root}/gold/data/v_{version - 1}.parquet"] if version and prior_read else []
        assert reads == (want if applied else []), f"v{version} read {reads}"
        return applied

    def crash(rows, version, should_crash):
        with monkeypatch.context() as m:
            _arm(m, sinks.os, "rename", should_crash)
            with pytest.raises(Crash):
                gold.upsert_state(rows, version=version, combine=replace_rows)
        assert not gold.version_applied(version)

    def kept():
        return sorted(int(n[2:].split(".")[0]) for n in os.listdir(f"{root}/gold/data"))

    version = 0
    for step in range(6):
        changed = rng.sample(keys, rng.randint(1, 8))
        new_vals = [(k, float(step * 100 + i)) for i, k in enumerate(changed)]
        for k, v in new_vals:
            ref[k] = v
        # the commit replaces the changed keys' rows in the state
        rows = mk_state(new_vals)
        if step == 3:
            # crash-redo: the state file never landed; the two kept state
            # files are untouched and the redo folds from the one below
            crash(rows, version, lambda a, calls: "/gold/data/" in str(a[1]))
            assert kept() == [version - 2, version - 1]
        if step == 4:
            # crash-roll-forward: the state file landed, the feed did not;
            # the re-offer reads no state and lands the staged feed
            crash(rows, version, lambda a, calls: "/gold/cdf/" in str(a[1]))
            assert kept() == [version - 2, version - 1, version]
        assert upsert(rows, version, prior_read=step != 4) is True
        assert gold.version_applied(version)
        if step == 2:
            # replay: same version re-offered after a "crash" — no-op
            assert upsert(rows, version) is False
        got = {r["group_id"]: r["cumulative_score"] for r in gold.read().collect()}
        assert got == ref, f"state diverged at step {step}"
        assert kept() == list(range(max(version - 1, 0), version + 1))
        assert not os.listdir(f"{root}/gold/stage")
        version += 1

    shutil.rmtree(root, ignore_errors=True)


def test_silver_prune_reaches_parquet_scan_and_skips_row_groups(spark, tmp_path_factory):
    """VERDICT r4 item 4: the IN-list prune must actually reach the
    parquet scan as a pushed filter (plan level) AND demonstrably skip
    data (metrics level: scan output rows ≪ table rows when probing one
    bucket of many)."""
    from kafka_streaming_spark.ops.dedup import prune_in_list

    root = str(tmp_path_factory.mktemp("prunecheck"))
    # 20 minute-buckets x 500 rows, written sorted by bucket so parquet
    # row-group stats make the IN-list skippable
    big = spark.range(10_000).select(
        (F.col("id") % 20).alias("minute_timestamp"),
        F.col("id").alias("rid"),
    ).orderBy("minute_timestamp")
    big.coalesce(4).write.mode("overwrite").parquet(f"{root}/history")
    hist = spark.read.parquet(f"{root}/history")
    probe = spark.createDataFrame([(3,)], ["minute_timestamp"])

    pruned = prune_in_list(hist, probe, "minute_timestamp")

    # plan: the IN filter is pushed INTO the scan
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in plan
    pushed_line = next(l for l in plan.splitlines() if "PushedFilters" in l)
    # a 1-value IN constant-folds to EqualTo; both are skippable predicates
    assert (
        "In(minute_timestamp" in pushed_line
        or "EqualTo(minute_timestamp" in pushed_line
    )

    # metrics: the filtered count reads only the probed bucket's rows
    assert pruned.count() == 500


def test_late_drop_witness_mechanism(spark, tmp_path):
    """`t_stream_late_drop`'s oracle certifies the OUTPUT; this pins the
    MECHANISM: the staged drain runs as three micro-batches, the straggler
    batch records numRowsDroppedByWatermark > 0, and the emitted windows
    equal the analytic on-time-only fixpoint row-for-row."""
    import glob
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    from kafka_streaming_spark.schemas import load_table

    SF = SF_SMALL
    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    ontime = ev.filter(F.col("event_id") % 5 != 0).select("ts", "cents")
    stragglers = ev.filter(F.col("event_id") % 5 == 0)
    advancer = stragglers.orderBy(F.col("ts").desc(), F.col("event_id").asc()).limit(1)
    rest = stragglers.join(advancer.select("event_id"), "event_id", "left_anti")
    for i, df in enumerate([ontime, advancer.select("ts", "cents"), rest.select("ts", "cents")]):
        out = str(tmp_path / f"p{i}")
        df.coalesce(1).write.parquet(out)
        part = glob.glob(f"{out}/*.parquet")[0]
        shutil.copy(part, f"{src}/f{i}.parquet")
        os.utime(f"{src}/f{i}.parquet", (1_000_000 + i, 1_000_000 + i))
    schema = StructType([StructField("ts", TimestampType()), StructField("cents", LongType())])
    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    agg = (
        raw.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("s"))
    )
    sink = "late_drop_mech_" + uuid.uuid4().hex[:6]
    q = (
        agg.writeStream.format("memory").queryName(sink).outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(batches) == 3, [p["numInputRows"] for p in progress]
    dropped_last = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for op in batches[-1].get("stateOperators", [])
    )
    assert dropped_last > 0  # stragglers really hit evicted state

    got = {
        (r.ws, r.n_events, r.s)
        for r in spark.table(sink)
        .select(F.unix_millis("window.start").alias("ws"), "n_events", "s")
        .collect()
    }
    wm = ev.agg((F.max(F.unix_millis("ts")) - 2 * 86400000).alias("wm"))
    ref = {
        (r.ws, r.n, r.s)
        for r in ev.filter(F.col("event_id") % 5 != 0)
        .select(
            F.floor(F.unix_millis("ts") / 86400000.0).cast("long").alias("day"),
            "cents",
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .crossJoin(wm)
        .filter((F.col("day") + 1) * 86400000 <= F.col("wm"))
        .select((F.col("day") * 86400000).alias("ws"), "n", "s")
        .collect()
    }
    assert got == ref and len(got) > 0


def test_expiring_counter_processing_time_timeout(spark, tmp_path_factory):
    """Stateful TTL branch (applyInPandasWithState ProcessingTimeTimeout,
    VERDICT r6 ask #7 item 3), live-trigger mode: keys emit expired=false
    running updates while data flows; a key idle past its TTL emits exactly
    one final expired=true row with its accumulated totals (with NO new
    input needed — armed timeouts keep the engine scheduling batches); its
    state is removed, so a reappearance restarts the count from zero."""
    import time as _time

    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import expiring_counter

    root = str(tmp_path_factory.mktemp("ttl"))
    schema = "group_id string, score double"
    src = f"{root}/source"
    emitted: list[tuple] = []

    def capture(batch_df, _batch_id):
        for r in batch_df.collect():
            emitted.append(
                (r["group_id"], r["event_count"], r["cumulative_score"], r["expired"])
            )

    def wait_for(pred, tag, deadline=90.0):
        t0 = _time.monotonic()
        while _time.monotonic() - t0 < deadline:
            if pred():
                return
            _time.sleep(0.3)
        raise AssertionError(f"timed out waiting for {tag}: {emitted}")

    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = file_stream(spark, src, spark.createDataFrame([], schema).schema)
    query = (
        expiring_counter(stream, timeout_ms=500)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        # live running updates first, never pre-expired
        wait_for(
            lambda: ("a", 2, 3.0, False) in emitted and ("b", 1, 10.0, False) in emitted,
            "live updates",
        )
        # both keys go idle past the 500 ms TTL -> exactly one final row each
        wait_for(
            lambda: ("a", 2, 3.0, True) in emitted and ("b", 1, 10.0, True) in emitted,
            "expiry rows",
        )
        assert [e for e in emitted if e[0] == "a" and e[3]] == [("a", 2, 3.0, True)]
        # reappearance restarts from zero: the TTL removed the state
        spark.createDataFrame([("b", 5.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        wait_for(lambda: ("b", 1, 5.0, False) in emitted, "b restarted from zero")
    finally:
        query.stop()
        query.awaitTermination()


def test_streaming_observed_metrics(spark, tmp_path_factory):
    """DataFrame.observe on a STREAMING frame: named data-quality metrics
    ride every micro-batch through ``StreamingQueryProgress.observedMetrics``
    — no second pass, no foreachBatch counting job.  With
    ``maxFilesPerTrigger=1`` over three staged files, every batch must
    carry its own (row count, integer checksum) and the per-batch metrics
    must sum EXACTLY to the batch aggregate over the whole source — an
    under- or double-counted micro-batch breaks the equality."""
    from pyspark.sql import functions as F

    from kafka_streaming_spark.io.sources import file_stream

    root = str(tmp_path_factory.mktemp("observe"))
    src = f"{root}/src"
    schema = "id long, score long"
    for i in range(3):
        spark.createDataFrame(
            [(i * 100 + j, (i * 100 + j) % 97) for j in range(50)], schema
        ).coalesce(1).write.mode("append").parquet(src)
    expected = spark.read.parquet(src).agg(
        F.count(F.lit(1)).alias("n"), F.sum("score").alias("chk")
    ).collect()[0]

    stream = file_stream(
        spark, src, spark.createDataFrame([], schema).schema, max_files_per_trigger=1
    ).observe(
        "dq",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("score").cast("long").alias("chk"),
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    per_batch = [
        p["observedMetrics"]["dq"]
        for p in q.recentProgress
        if p["observedMetrics"].get("dq") and p["numInputRows"] > 0
    ]
    assert len(per_batch) == 3  # one metrics row per file-batch
    assert sum(m["n_rows"] for m in per_batch) == expected["n"]
    assert sum(m["chk"] for m in per_batch) == expected["chk"]


def test_live_witness_retry_on_deadline_miss(spark, monkeypatch):
    """VERDICT r8 ask #2: the live-trigger witnesses get exactly one
    fresh-sink retry on a poll-deadline miss (their only driver shot per
    round is a real processingTime drain on a possibly-shared box).
    Force a first-attempt miss with a zero first deadline and assert the
    second attempt completes AND that neither attempt leaks its
    uuid-named memory sink (ADVICE r8)."""
    import kafka_streaming_spark.queries as Q
    import kafka_streaming_spark.queries._core as QC

    # Patch the _core binding: _drain_live_sink reads its own module
    # global (the package attr is a re-exported copy since the r9 split).
    monkeypatch.setattr(QC, "_LIVE_POLL_DEADLINES", (0.0, 120.0))
    out = Q.REGISTRY["t_stream_rate_soak"][0](spark, SF_SMALL)
    rows = {r["batch_id"]: r for r in out.collect()}
    assert sorted(rows) == [0, 1, 2, 3, 4, 5]
    R = 512
    for k, r in rows.items():
        assert r["n_rows"] == R
        assert r["value_sum"] == sum(range(k * R, (k + 1) * R))
        assert r["n_stamps"] == 1
        assert r["ts_ms"] == 1_700_000_000_000 + 1000 * k
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("t_stream_rate_soak_")
    ]
    assert leaked == []


def test_live_witness_fails_loud_after_final_deadline(spark, monkeypatch):
    """Both deadlines missed → RuntimeError (no silent partial drain),
    and the failed attempts' sinks are dropped."""
    import kafka_streaming_spark.queries as Q
    import kafka_streaming_spark.queries._core as QC

    monkeypatch.setattr(QC, "_LIVE_POLL_DEADLINES", (0.0, 0.0))
    with pytest.raises(RuntimeError, match="t_stream_rate_soak"):
        Q.REGISTRY["t_stream_rate_soak"][0](spark, SF_SMALL)
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("t_stream_rate_soak_")
    ]
    assert leaked == []


def test_tws_equiv_apply_in_pandas_with_state(spark, tmp_path_factory):
    """VERDICT r8 ask #3: with the protobuf unblock landed, assert the two
    stateful runtimes agree DIRECTLY — ``running_counter_tws``
    (transformWithStateInPandas, typed value state) must produce exactly
    the same final per-group (count, sum) as ``running_counter``
    (applyInPandasWithState) over the same multi-batch file stream."""
    from kafka_streaming_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    if ensure_protobuf() is None:
        pytest.skip("no google.protobuf runtime available")
    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import (
        running_counter,
        running_counter_tws,
    )

    root = str(tmp_path_factory.mktemp("tws_equiv"))
    events = normalize_events(load_table(spark, SF_SMALL, "events")).select(
        "group_id", "score"
    )
    src = f"{root}/source"
    events.repartition(3).write.mode("overwrite").parquet(src)

    def drain(op, name):
        final: dict[str, tuple[int, float]] = {}

        def capture(batch_df, _batch_id):
            for r in batch_df.collect():
                final[r["group_id"]] = (
                    r["event_count"],
                    r["cumulative_score"],
                )

        stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
        (
            op(stream)
            .writeStream.outputMode("update")
            .foreachBatch(capture)
            .option("checkpointLocation", f"{root}/ckpt_{name}")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return final

    a = drain(running_counter, "apiws")
    b = drain(running_counter_tws, "tws")
    assert set(a) == set(b)
    for k in a:
        assert a[k][0] == b[k][0], k
        assert a[k][1] == pytest.approx(b[k][1], rel=1e-12), k


def test_tws_list_state_topk(spark, tmp_path_factory):
    """transformWithState LIST state (the composable-state-variable API
    surface ValueState doesn't touch): per-key running top-3 scores
    maintained across micro-batches must converge to the batch
    ``row_number() over (partition by group_id order by score desc) <= 3``
    ranking, with state bounded at k rows per key by construction."""
    from kafka_streaming_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    if ensure_protobuf() is None:
        pytest.skip("no google.protobuf runtime available")
    from pyspark.sql import Window

    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import topk_scores_tws

    root = str(tmp_path_factory.mktemp("tws_topk"))
    # Distinct scores per group (score = event_id-derived, unique) so the
    # top-3 set is unambiguous — ties would make ranking nondeterministic.
    events = (
        normalize_events(load_table(spark, SF_SMALL, "events"))
        .select("group_id", "id", "score")
        .dropDuplicates(["group_id", "score"])
    )
    src = f"{root}/source"
    events.repartition(3).write.mode("overwrite").parquet(src)

    stream = file_stream(
        spark,
        src,
        events.select("group_id", "score").schema,
        max_files_per_trigger=1,
    )
    final: dict[str, list] = {}

    def capture(batch_df, _batch_id):
        for gid, pdf in batch_df.toPandas().groupby("group_id"):
            final[gid] = sorted(
                zip(pdf["rank"], pdf["score"]), key=lambda t: t[0]
            )

    (
        topk_scores_tws(stream, k=3)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    w = Window.partitionBy("group_id").orderBy(F.col("score").desc())
    expected_rows = (
        events.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    )
    expected: dict[str, list] = {}
    for r in expected_rows:
        expected.setdefault(r["group_id"], []).append((r["rank"], r["score"]))
    for gid in expected:
        expected[gid].sort(key=lambda t: t[0])

    assert set(final) == set(expected)
    for gid in expected:
        assert len(final[gid]) == len(expected[gid]), gid
        for (ra, sa), (rb, sb) in zip(final[gid], expected[gid]):
            assert ra == rb and sa == pytest.approx(sb, rel=1e-12), gid


def test_tws_timers_expiring_counter(spark, tmp_path_factory):
    """transformWithState TIMERS (registerTimer / handleExpiredTimer — the
    third TWS pillar after value and list state): live running updates
    emit expired=false; a key idle past the timer emits exactly one final
    expired=true row with its totals and clears state, so a reappearing
    key restarts from zero.  Mirrors the applyInPandasWithState TTL test
    so the two runtimes' timeout semantics stay pinned to each other."""
    import time as _time

    from kafka_streaming_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    if ensure_protobuf() is None:
        pytest.skip("no google.protobuf runtime available")
    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import expiring_counter_tws

    root = str(tmp_path_factory.mktemp("tws_ttl"))
    schema = "group_id string, score double"
    src = f"{root}/source"
    emitted: list[tuple] = []

    def capture(batch_df, _batch_id):
        for r in batch_df.collect():
            emitted.append(
                (r["group_id"], r["event_count"], r["cumulative_score"], r["expired"])
            )

    def wait_for(pred, tag, deadline=90.0):
        t0 = _time.monotonic()
        while _time.monotonic() - t0 < deadline:
            if pred():
                return
            _time.sleep(0.3)
        raise AssertionError(f"timed out waiting for {tag}: {emitted}")

    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = file_stream(spark, src, spark.createDataFrame([], schema).schema)
    query = (
        expiring_counter_tws(stream, timeout_ms=500)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        wait_for(
            lambda: ("a", 2, 3.0, False) in emitted
            and ("b", 1, 10.0, False) in emitted,
            "live updates",
        )
        wait_for(
            lambda: ("a", 2, 3.0, True) in emitted
            and ("b", 1, 10.0, True) in emitted,
            "expiry rows",
        )
        assert [e for e in emitted if e[0] == "a" and e[3]] == [
            ("a", 2, 3.0, True)
        ]
        # reappearance restarts from zero: expiry cleared the state
        spark.createDataFrame([("b", 5.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        wait_for(lambda: ("b", 1, 5.0, False) in emitted, "restart from zero")
    finally:
        query.stop()
        query.awaitTermination()


def test_tws_map_state_type_counts(spark, tmp_path_factory):
    """transformWithState MAP state (keyed sub-dictionary per group): the
    per-(group, event_type) running counts must converge to the batch
    two-key groupBy count across a multi-batch replay."""
    from kafka_streaming_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    if ensure_protobuf() is None:
        pytest.skip("no google.protobuf runtime available")
    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import type_counts_tws

    root = str(tmp_path_factory.mktemp("tws_map"))
    events = normalize_events(load_table(spark, SF_SMALL, "events")).select(
        "group_id", F.col("event_type").cast("string").alias("event_type")
    )
    src = f"{root}/source"
    events.repartition(3).write.mode("overwrite").parquet(src)

    stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
    final: dict[tuple, int] = {}

    def capture(batch_df, _batch_id):
        for r in batch_df.collect():
            final[(r["group_id"], r["event_type"])] = r["n"]

    (
        type_counts_tws(stream)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    expected = {
        (r["group_id"], r["event_type"]): r["n"]
        for r in events.groupBy("group_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final == expected and len(final) > 0


def test_tws_initial_state_warm_start(spark, tmp_path_factory):
    """transformWithState INITIAL STATE (handleInitialState): seed the
    per-key running (count, sum) from a batch table before the first
    micro-batch — the medallion restart pattern (resume the gold fold
    from the persisted gold table instead of replaying history;
    reference gold.py:19-45 persists exactly this shape).  Final totals
    must equal seed + streamed, and a key absent from the seed starts
    from zero."""
    from kafka_streaming_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    if ensure_protobuf() is None:
        pytest.skip("no google.protobuf runtime available")
    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import running_counter_tws

    root = str(tmp_path_factory.mktemp("tws_seed"))
    schema = "group_id string, score double"
    seed = spark.createDataFrame(
        [("a", 10, 100.0), ("b", 5, 50.0)],
        "group_id string, event_count long, cumulative_score double",
    )
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("c", 7.0)], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/source")
    stream = file_stream(
        spark, f"{root}/source", spark.createDataFrame([], schema).schema
    )
    final: dict[str, tuple[int, float]] = {}

    def capture(batch_df, _batch_id):
        for r in batch_df.collect():
            final[r["group_id"]] = (r["event_count"], r["cumulative_score"])

    (
        running_counter_tws(stream, initial_state=seed)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # a: seeded 10/100 + 2 events (1+2); c: unseeded, 1 event.  b gets no
    # batch rows, so update mode emits nothing for it — the seed sits in
    # state awaiting b's next event.
    assert final["a"] == (12, 103.0)
    assert final["c"] == (1, 7.0)
    assert "b" not in final


def test_tws_event_time_timer_sessions(spark, tmp_path_factory):
    """transformWithState EVENT-TIME timers (timeMode='EventTime'): a
    session finalizes exactly once — either input-driven (a later event
    opens a new session past the gap) or timer-driven (the WATERMARK,
    not a wall clock, passes last_event + gap).  Replay three files as
    three micro-batches and assert the exact finalized-session set; the
    sessions whose timers the final watermark never passes stay open
    (the availableNow caveat every event-time operator shares)."""
    from kafka_streaming_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    if ensure_protobuf() is None:
        pytest.skip("no google.protobuf runtime available")
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import session_finalize_tws

    root = str(tmp_path_factory.mktemp("tws_sessions"))
    schema = StructType(
        [
            StructField("group_id", StringType()),
            StructField("ts", TimestampType()),
            StructField("score", DoubleType()),
        ]
    )
    from datetime import datetime, timezone

    def at(ms):
        return datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).replace(
            tzinfo=None
        )

    src = f"{root}/source"
    files = [
        # batch 0: a has 3 events within the 5s gap; b has 1
        [("a", at(1000), 1.0), ("a", at(2000), 2.0), ("a", at(3000), 3.0),
         ("b", at(1000), 10.0)],
        # batch 1: a@20s is past 3000+5000 -> finalizes a's first session
        # input-driven and opens a second; watermark rises to 20s
        [("a", at(20000), 4.0)],
        # batch 2: c opens; the 20s watermark (from batch 1) now fires b's
        # 6s timer -> b finalizes timer-driven
        [("c", at(40000), 7.0)],
    ]
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
        # one parquet file per write -> one micro-batch each under
        # maxFilesPerTrigger=1, in arrival order (file mtimes increase)
        import time as _t

        _t.sleep(1.1)

    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    finalized: list[tuple] = []

    def capture(batch_df, _batch_id):
        for r in batch_df.collect():
            finalized.append(
                (
                    r["group_id"],
                    r["session_start_ms"],
                    r["session_end_ms"],
                    r["n_events"],
                    r["total_score"],
                )
            )

    (
        session_finalize_tws(stream, gap_ms=5_000)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    assert ("a", 1000, 3000, 3, 6.0) in finalized  # input-driven finalize
    assert ("b", 1000, 1000, 1, 10.0) in finalized  # timer-driven finalize
    # a's second session (20s) and c (40s): timers at 25s/45s, final
    # watermark 40s passes only a's -> a second session may finalize in a
    # trailing batch if one runs; c's never can.
    assert not any(f[0] == "c" for f in finalized)
    # no double-finalization anywhere
    assert len(finalized) == len(set(finalized))


def test_state_reader_offline_inspection(spark, tmp_path_factory):
    """State Data Source (offline checkpoint forensics): after a
    running_counter drain, reading the checkpoint's state store as a
    batch DataFrame must reproduce EXACTLY the fold the operator claims
    (≡ batch groupBy over the same events), the metadata must name the
    stateful operator, and the skew view must account for every state
    row — all without touching the streaming query."""
    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import running_counter
    from kafka_streaming_spark.streaming.state_reader import (
        read_state_flat,
        read_state_metadata,
        state_key_skew,
    )

    root = str(tmp_path_factory.mktemp("state_reader"))
    events = normalize_events(load_table(spark, SF_SMALL, "events")).select(
        "group_id", "score"
    )
    src = f"{root}/source"
    events.repartition(2).write.mode("overwrite").parquet(src)
    stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
    (
        running_counter(stream)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    meta = read_state_metadata(spark, f"{root}/ckpt").collect()
    assert any(
        "applyInPandasWithState" in str(r["operatorName"]) for r in meta
    ), meta

    state = {
        r["group_id"]: (r["count"], r["total"])
        for r in read_state_flat(spark, f"{root}/ckpt").collect()
    }
    expected = {
        r["group_id"]: (r["n"], r["s"])
        for r in events.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("score").alias("s"))
        .collect()
    }
    assert set(state) == set(expected)
    for k, (n, s) in expected.items():
        assert state[k][0] == n, k
        assert state[k][1] == pytest.approx(s, rel=1e-9), k

    skew = state_key_skew(spark, f"{root}/ckpt").collect()
    assert sum(r["n_state_rows"] for r in skew) == len(expected)
    assert all(
        skew[i]["n_state_rows"] >= skew[i + 1]["n_state_rows"]
        for i in range(len(skew) - 1)
    )


def test_flatten_structs_collision_prefix(spark):
    """flatten_structs (the read_state_flat expansion): unique child
    names stay bare (existing analyst views unchanged), but a child name
    appearing under MORE THAN ONE struct — the generic-TWS-store shape
    where a key field name recurs inside the value struct — comes out
    parent-prefixed instead of duplicate/ambiguous, and nested structs
    flatten recursively."""
    from kafka_streaming_spark.streaming.state_reader import flatten_structs

    df = spark.sql(
        "SELECT named_struct('group_id', 'a', 'shard', 1) AS key, "
        "named_struct('group_id', 'a', 'count', 3, "
        "             'inner', named_struct('depth', 2)) AS value, "
        "7 AS partition_id"
    )
    flat = flatten_structs(df)
    assert sorted(flat.columns) == [
        "count",
        "depth",
        "key_group_id",
        "partition_id",
        "shard",
        "value_group_id",
    ]
    row = flat.collect()[0]
    assert (
        row["key_group_id"],
        row["value_group_id"],
        row["count"],
        row["depth"],
        row["shard"],
        row["partition_id"],
    ) == ("a", "a", 3, 2, 1, 7)


def test_state_reader_tws_state_var(spark, tmp_path_factory):
    """State Data Source over a transformWithState checkpoint: TWS stores
    are column families keyed by state-variable name, so the reader takes
    stateVarName — the offline view of running_counter_tws's "agg"
    ValueState must equal the batch groupBy fold."""
    from kafka_streaming_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    if ensure_protobuf() is None:
        pytest.skip("no google.protobuf runtime available")
    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import running_counter_tws
    from kafka_streaming_spark.streaming.state_reader import read_state_flat

    root = str(tmp_path_factory.mktemp("tws_state_reader"))
    events = normalize_events(load_table(spark, SF_SMALL, "events")).select(
        "group_id", "score"
    )
    src = f"{root}/source"
    events.coalesce(1).write.mode("overwrite").parquet(src)
    stream = file_stream(spark, src, events.schema)
    (
        running_counter_tws(stream)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    state = {
        r["group_id"]: (r["count"], r["total"])
        for r in read_state_flat(
            spark, f"{root}/ckpt", state_var="agg"
        ).collect()
    }
    expected = {
        r["group_id"]: (r["n"], r["s"])
        for r in events.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("score").alias("s"))
        .collect()
    }
    assert set(state) == set(expected)
    for k, (n, s) in expected.items():
        assert state[k] == (n, pytest.approx(s, rel=1e-9)), k


def test_state_reader_change_feed(spark, tmp_path_factory):
    """State CHANGE FEED (readChangeFeed over a checkpoint): the exact
    per-batch evolution of each key's fold — batch 0 writes both keys'
    first states, batch 1 updates only the key that received data."""
    import glob as _glob
    import shutil as _shutil
    import time as _time

    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import running_counter
    from kafka_streaming_spark.streaming.state_reader import (
        read_state_changes,
    )
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    root = str(tmp_path_factory.mktemp("state_cdf"))
    schema = StructType(
        [
            StructField("group_id", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    import os

    os.makedirs(f"{root}/src")
    for i, rows in enumerate([[("a", 1.0), ("b", 2.0)], [("a", 3.0)]]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{root}/p{i}"
        )
        _shutil.copy(
            _glob.glob(f"{root}/p{i}/*.parquet")[0], f"{root}/src/f{i}.parquet"
        )
        _time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    stream = file_stream(spark, f"{root}/src", schema, max_files_per_trigger=1)
    (
        running_counter(stream)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    changes = sorted(
        (
            r["batch_id"],
            r["change_type"],
            r["key"]["group_id"],
            r["value"]["groupState"]["count"],
            r["value"]["groupState"]["total"],
        )
        for r in read_state_changes(spark, f"{root}/ckpt").collect()
    )
    assert changes == [
        (0, "update", "a", 1, 1.0),
        (0, "update", "b", 1, 2.0),
        (1, "update", "a", 2, 4.0),
    ]


def test_pydatasource_stream_matches_batch(spark):
    """Spark 4 Python Data Source, STREAMING half: the micro-batch
    reader over the deterministic closed form (offsets advancing
    batch_rows per poll, saturating at rows) must drain — across
    several live-trigger batches — to exactly the batch reader's table.
    Restart-safety is inherent: any offset range maps to the same
    closed-form rows."""
    import time as _time
    import uuid as _uuid

    from kafka_streaming_spark.io.pydatasource import (
        register_deterministic_events,
    )

    register_deterministic_events(spark)
    batch = (
        spark.read.format("deterministic_events")
        .option("rows", 5000)
        .load()
    )
    sink = f"pyds_stream_{_uuid.uuid4().hex[:6]}"
    q = (
        spark.readStream.format("deterministic_events")
        .option("rows", 5000)
        .option("batch_rows", 1300)
        .load()
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.monotonic() + 120
        while _time.monotonic() < deadline:
            if spark.table(sink).count() >= 5000:
                break
            _time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    a = sorted(tuple(r) for r in batch.collect())
    b = sorted(tuple(r) for r in spark.table(sink).collect())
    spark.catalog.dropTempView(sink)
    assert len(b) == 5000  # saturated exactly at the cap, 4 batches in
    assert a == b


def test_pydatasource_restart_no_duplicates(spark, tmp_path_factory):
    """Restart-from-checkpoint exactness of the Python Data Source
    stream: the pacing cursor restarts at 0 in every new reader
    instance, so without the partitions()/commit() fast-forward a
    post-restart ``latestOffset`` would return offsets BEHIND the
    committed start, the engine would commit the regressed end, and the
    next batches would re-emit committed rows (duplicates in the append
    sink).  Stop a checkpointed drain mid-way, restart with a FRESH
    reader over the same checkpoint, and assert the final sink equals
    the batch table exactly — no duplicates, no losses."""
    import time as _time

    from kafka_streaming_spark.io.pydatasource import (
        register_deterministic_events,
    )

    register_deterministic_events(spark)
    root = str(tmp_path_factory.mktemp("pyds_restart"))
    sink, ckpt = f"{root}/sink", f"{root}/ckpt"
    rows = 9000

    def start():
        return (
            spark.readStream.format("deterministic_events")
            .option("rows", rows)
            .option("batch_rows", 1300)
            .load()
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def sink_count():
        try:
            return spark.read.parquet(sink).count()
        except Exception:
            return 0

    q = start()  # run 1: stop once at least one batch committed
    deadline = _time.monotonic() + 60
    while _time.monotonic() < deadline and sink_count() < 1300:
        _time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    assert sink_count() >= 1300

    q = start()  # run 2: fresh reader, same checkpoint -> exact drain
    deadline = _time.monotonic() + 90
    while _time.monotonic() < deadline and sink_count() < rows:
        _time.sleep(0.2)
    _time.sleep(1.5)  # let any extra (would-be duplicating) batch land
    q.stop()
    q.awaitTermination()

    df = spark.read.parquet(sink)
    assert df.count() == rows, "lost rows across restart"
    assert df.distinct().count() == rows, "duplicated rows across restart"
    batch = (
        spark.read.format("deterministic_events").option("rows", rows).load()
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_tws_event_time_sessions_late_merge(spark, tmp_path_factory):
    """Late-merge policy of session_finalize_tws: an event admitted by
    the watermark whose time falls BELOW the open session's start but
    within the gap of it MERGES into the session, extending its start
    downward — exactly what F.session_window would compute over the
    same admitted events.  The merged session finalizes only once the
    watermark passes its last + gap (batch-exact semantics), so the
    fixture pushes the watermark with two far-future events."""
    from kafka_streaming_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    if ensure_protobuf() is None:
        pytest.skip("no google.protobuf runtime available")
    from datetime import datetime, timezone

    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from kafka_streaming_spark.io.sources import file_stream
    from kafka_streaming_spark.streaming.stateful import session_finalize_tws

    def at(ms):
        return datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc).replace(
            tzinfo=None
        )

    root = str(tmp_path_factory.mktemp("tws_late"))
    schema = StructType(
        [
            StructField("group_id", StringType()),
            StructField("ts", TimestampType()),
            StructField("score", DoubleType()),
        ]
    )
    src = f"{root}/source"
    files = [
        [("a", at(10_000), 1.0), ("a", at(12_000), 2.0)],
        # late event BELOW the session start (6s < start 10s), admitted
        # by the generous 60s watermark delay, STRICTLY within the 5s
        # gap of the session start (10s < 6s + 5s) -> merges and
        # extends the start down to 6s, exactly as F.session_window
        # would (an event at 5s would NOT merge: 10s = 5s + 5s is
        # outside the half-open [ts, ts+gap) window)
        [("a", at(6_000), 3.0)],
        # watermark push: after this batch wm = 90s - 60s = 30s, past
        # the merged session's finalize point 12s + 5s = 17s
        [("a", at(90_000), 4.0)],
        # processed AT wm=30s -> finalizes the merged session
        # input-driven (deterministic; no trailing no-data batch needed)
        [("a", at(95_000), 5.0)],
    ]
    import time as _t

    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
        _t.sleep(1.1)

    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    finalized: list[tuple] = []

    def capture(batch_df, _batch_id):
        for r in batch_df.collect():
            finalized.append(
                (
                    r["group_id"],
                    r["session_start_ms"],
                    r["session_end_ms"],
                    r["n_events"],
                    r["total_score"],
                )
            )

    (
        session_finalize_tws(stream, gap_ms=5_000, watermark_delay="60 seconds")
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert ("a", 6_000, 12_000, 3, 6.0) in finalized
