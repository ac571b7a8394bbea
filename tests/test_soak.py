"""Sustained-load soak witness (VERDICT r6 ask #7 item 1): the live
three-stage medallion fed by the rate source must keep up with the offered
load AND keep the incremental gold fold consistent with the batch
re-aggregation of everything ingested.  The pytest run uses a small
rate/duration so CI stays fast; tools/soak.py runs the full 4,000 events/s
/ 60 s baseline-parity configuration (results in SCALE.md)."""

from __future__ import annotations

import pytest

from kafka_streaming_spark.streaming.soak import rate_events, soak_medallion


def test_rate_events_schema(spark):
    df = rate_events(spark, rows_per_second=10)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "id",
        "group_id",
        "score",
        "event_timestamp",
    ]
    assert df.schema["event_timestamp"].dataType.simpleString() == "bigint"


def test_soak_medallion_sustains_and_folds(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("soak"))
    m = soak_medallion(
        spark,
        f"{root}/tables",
        rows_per_second=300,
        duration_sec=12.0,
        n_groups=8,
    )
    # End-to-end: rows committed to silver during the live window.  The
    # hard floor is deliberately lenient (pytest shares the box with the
    # suite); the baseline-parity number comes from tools/soak.py.
    assert m["silver_rows"] > 0
    assert m["silver_events_per_sec"] > 50, m
    # The fold invariant is NOT lenient: incremental gold must equal the
    # batch re-aggregation of silver exactly.
    assert m["gold_consistent"], m
    assert 0 < m["gold_groups"] <= 8
    # Every stage actually ran batches while live.
    assert m["stages"]["bronze_to_silver"]["input_rows"] > 0
    assert m["stages"]["bronze_to_silver"]["batches"] > 1
    assert m["stages"]["silver_to_gold"]["batches"] >= 1
    assert m["stages"]["gold_to_serving"]["batches"] >= 1


def test_rate_micro_batch_is_deterministic(spark, tmp_path_factory):
    """rate-micro-batch witness infra (staged for an r8 oracle-checked
    registration): batch k carries exactly [k*R, (k+1)*R) with timestamps
    advancing a fixed step per batch — closed-form input, so any query over
    it is oracle-checkable without files."""
    import time as _time

    from kafka_streaming_spark.io.sources import rate_micro_batch_stream

    root = str(tmp_path_factory.mktemp("rmb"))
    rows_per_batch = 25
    seen: dict[int, list[tuple]] = {}

    def capture(batch_df, batch_id):
        seen[batch_id] = [(r["value"], r["timestamp"]) for r in batch_df.collect()]

    stream = rate_micro_batch_stream(
        spark, rows_per_batch, num_partitions=2, start_timestamp_ms=1_700_000_000_000
    )
    q = (
        stream.writeStream.foreachBatch(capture)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.monotonic() + 90
        while _time.monotonic() < deadline and len(seen) < 3:
            _time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    assert len(seen) >= 3
    for k in (0, 1, 2):
        vals = sorted(v for v, _ in seen[k])
        assert vals == list(range(k * rows_per_batch, (k + 1) * rows_per_batch)), k
        stamps = {ts for _, ts in seen[k]}
        assert len(stamps) == 1  # whole batch shares one deterministic stamp
        (ts,) = stamps
        assert int(ts.timestamp() * 1000) == 1_700_000_000_000 + k * 1000


def test_stage_restart_under_load_keeps_fold_exact(spark, tmp_path_factory):
    """K4 exactly-once under LIVE load: stop the silver→gold stage mid-soak,
    restart it from its checkpoint while bronze keeps committing, then drain
    — the incremental gold state must still equal the batch re-aggregation
    of silver exactly (no lost or double-folded micro-batch).  The
    restart-recovery driver witness (t_stream_restart_recovery) pins this
    on a finite replay; this pins it with the upstream still live."""
    import time as _time

    from kafka_streaming_spark.ops.aggregates import group_agg
    from kafka_streaming_spark.streaming.pipeline import MedallionPipeline
    from kafka_streaming_spark.streaming.soak import rate_events

    root = str(tmp_path_factory.mktemp("restart_soak"))
    events = rate_events(spark, rows_per_second=400, n_groups=8)
    pipe = MedallionPipeline(spark, f"{root}/tables", watermark_delay="10 seconds")
    q1 = pipe.start_bronze_to_silver(events, available_now=False)
    q2 = pipe.start_silver_to_gold(available_now=False)
    try:
        _time.sleep(6)
        q2.stop()  # stage outage while bronze keeps committing
        q2.awaitTermination()
        _time.sleep(3)
        q2 = pipe.start_silver_to_gold(available_now=False)  # same checkpoint
        _time.sleep(6)
    finally:
        q1.stop()
        q1.awaitTermination()
        q2.stop()
        q2.awaitTermination()
    # drain the tail so gold has folded everything silver committed
    pipe.start_silver_to_gold(available_now=True).awaitTermination()

    silver = pipe.silver.read()
    assert silver.count() > 0
    expected = {
        r["group_id"]: r
        for r in group_agg(
            silver, keys=("group_id",), score_col="score", ts_col="event_timestamp"
        ).collect()
    }
    gold = {r["group_id"]: r for r in pipe.gold.read().drop("updated_at").collect()}
    assert set(gold) == set(expected)
    for k, e in expected.items():
        g = gold[k]
        assert g["event_count"] == e["event_count"], k
        assert g["cumulative_score"] == pytest.approx(e["cumulative_score"], rel=1e-9), k
        assert g["first_event_timestamp"] == e["first_event_timestamp"], k
        assert g["last_event_timestamp"] == e["last_event_timestamp"], k


def test_stage_progress_short_run_skips_ramp_batch():
    """ADVICE r8: with 2-3 non-empty batches ``len(nz)//4 == 0`` made the
    steady window exactly the FIRST (ramp) batch, so the divergence check
    (last <= 2*steady) could false-fail a short healthy run.  The q1
    floor must exclude batch 0 whenever more than one non-empty batch
    exists."""
    from kafka_streaming_spark.streaming.soak import _stage_progress

    def _entry(rows, start, end, ms=100):
        return {
            "numInputRows": rows,
            "durationMs": {"triggerExecution": ms},
            "sources": [{"startOffset": start, "endOffset": end}],
        }

    class _FakeQuery:
        def __init__(self, sizes):
            self.recentProgress = [_entry(s, str(i), str(i + 1)) for i, s in enumerate(sizes)]

    # Ramp batch of 10 rows, then two healthy 100-row batches: steady
    # must anchor on the post-ramp batches, never the ramp batch.
    m = _stage_progress(_FakeQuery([10, 100, 100]))
    assert m["steady_batch_rows"] == 100
    assert m["last_batch_rows"] <= 2 * m["steady_batch_rows"]

    # Two batches: steady = the second, not the ramp.
    m2 = _stage_progress(_FakeQuery([10, 100]))
    assert m2["steady_batch_rows"] == 100

    # Single batch: fall all the way back to it.
    m1 = _stage_progress(_FakeQuery([42]))
    assert m1["steady_batch_rows"] == 42

    # Long run unchanged: second quarter of 8 non-empty batches.
    m8 = _stage_progress(_FakeQuery([1, 2, 3, 4, 5, 6, 7, 8]))
    assert m8["steady_batch_rows"] in (3, 4)

    # An idle entry (its offset did not move) is no batch, however long its
    # trigger took; an entry whose offset moved is one, with rows or
    # without (silver→gold and gold→serving read their files on the
    # driver, so Spark reports 0 rows for them).
    q = _FakeQuery([10, 100, 100])
    q.recentProgress.insert(1, _entry(0, "1", "1", ms=5000))
    q.recentProgress.append(_entry(0, "3", "4", ms=300))
    m = _stage_progress(q)
    assert (m["batches"], m["input_rows"]) == (4, 210)
    assert (m["mean_batch_sec"], m["max_batch_sec"]) == (0.15, 0.3)
    assert (m["steady_batch_rows"], m["last_batch_rows"], m["median_batch_rows"]) == (100, 100, 100)
