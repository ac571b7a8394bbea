"""The gold commit (``ParquetUpsertTable.upsert_state`` fed by
``MedallionPipeline.fold_silver_files``): the Arrow fold it commits with
matches ``combine_states`` bit for bit, and a crash at any step of its
commit, followed by the same micro-batch re-offered, neither loses nor
double-counts an event in the table or its change feed.  The same holds
for the silver→gold and gold→serving queries: a body that raises stops
its query, and a restart on the same checkpoint reads the failed batch's
files again.
"""

from __future__ import annotations

import glob
import math
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import StreamingQueryException

from kafka_streaming_spark.io import serving, sinks
from kafka_streaming_spark.io.generator import EventGenerator
from kafka_streaming_spark.io.sinks import ParquetUpsertTable
from kafka_streaming_spark.io.sources import file_stream
from kafka_streaming_spark.ops.aggregates import (
    AGG_COLUMNS,
    combine_states,
    combine_states_arrow,
    group_agg,
    group_agg_arrow,
)
from kafka_streaming_spark.ops.projections import derive_event_columns
from kafka_streaming_spark.schemas import EVENT_SCHEMA, GOLD_SCHEMA
from kafka_streaming_spark.streaming.pipeline import MedallionPipeline
from tests.conftest import Crash, _arm, replace_rows

FOLDED = ["cumulative_score", "event_count", "first_event_timestamp", "last_event_timestamp"]
STATE_COLS = ["group_id", *FOLDED[:2], "avg_score", *FOLDED[2:]]


def _bits(v):
    """Floats by their bit pattern (``-0.0 != 0.0``), everything else as is."""
    return v.hex() if isinstance(v, float) else v


def _rows(table_rows, cols=STATE_COLS) -> dict:
    return {r["group_id"]: tuple(_bits(r[c]) for c in cols) for r in table_rows}


# -- the Arrow fold against combine_states -----------------------------------

_score = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=64, min_value=-1e12, max_value=1e12),
    st.sampled_from([0.0, -0.0, 0.1, 1e-300, 2.0**53]),
)
_state_row = st.tuples(
    _score,
    st.integers(min_value=1, max_value=10**6),
    st.integers(min_value=0, max_value=10**12),
    st.integers(min_value=0, max_value=10**12),
)
# keys g0..g11: the prior state and the batch draw from the same small space,
# so a batch mixes keys already present with keys new to the table
_keyed = st.dictionaries(st.sampled_from([f"g{i}" for i in range(12)]), _state_row, max_size=12)

FOLD_SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _state_table(rows: dict, updated_at: int = 7) -> list[tuple]:
    return [
        (k, s, n, s / n, lo, max(lo, hi), updated_at) for k, (s, n, lo, hi) in sorted(rows.items())
    ]


@given(prior=_keyed, batch=_keyed.filter(bool))
@FOLD_SET
def test_arrow_fold_matches_combine_states_bit_for_bit(spark, tmp_path_factory, prior, batch):
    """``combine_states_arrow`` ≡ ``combine_states`` on random keys, and the
    commit built on it holds exactly that fold for every batch key (new and
    present) and the prior rows elsewhere, in one state file."""
    prior_rows, batch_rows = _state_table(prior), _state_table(batch, updated_at=9)
    prior_df = spark.createDataFrame(prior_rows, schema=GOLD_SCHEMA)
    batch_df = spark.createDataFrame(batch_rows, schema=GOLD_SCHEMA)
    want = _rows(combine_states(prior_df.drop("updated_at"), batch_df, keys=("group_id",)).collect())

    got = combine_states_arrow(prior_df.toArrow(), batch_df.toArrow(), keys=("group_id",))
    assert got.column_names == STATE_COLS
    assert _rows(got.to_pylist()) == want

    root = str(tmp_path_factory.mktemp("fold"))
    gold = ParquetUpsertTable(spark, root, GOLD_SCHEMA, keys=("group_id",))
    if prior_rows:
        gold.upsert_state(prior_df.toArrow(), version=0, combine=replace_rows)

    def fold(old, new):
        out = combine_states_arrow(old, new, keys=("group_id",))
        return out.append_column("updated_at", pa.repeat(pa.scalar(9, pa.int64()), out.num_rows))

    assert gold.upsert_state(batch_df.toArrow(), version=1, combine=fold)
    table = _rows(gold.read().collect(), STATE_COLS + ["updated_at"])
    prior_only = _rows(
        [dict(zip(GOLD_SCHEMA.names, r)) for r in prior_rows if r[0] not in batch],
        STATE_COLS + ["updated_at"],
    )
    assert table == {**prior_only, **{k: v + (9,) for k, v in want.items() if k in batch}}
    assert os.path.isfile(f"{root}/data/v_1.parquet")


# -- the Arrow aggregate against group_agg ------------------------------------

_GROUPS = [f"g{i}" for i in range(12)]
_quarter = st.integers(min_value=-4000, max_value=4000).map(lambda n: n / 4)


@st.composite
def _agg_batch(draw):
    """(exact, rows): random keys over g0..g11 or a single group, and at
    times a single row; ``exact`` scores are multiples of 1/4, so their
    sums are exact in any order."""
    exact = draw(st.booleans())
    groups = draw(st.sampled_from([_GROUPS, _GROUPS[:1]]))
    event = st.tuples(
        st.sampled_from(groups), _quarter if exact else _score, st.integers(0, 10**12)
    )
    size = draw(st.sampled_from([1, 40]))
    rows = draw(st.lists(event, min_size=1, max_size=size))
    return exact, [(f"e{i}", g, s, ts) for i, (g, s, ts) in enumerate(rows)]


@given(batch=_agg_batch())
@FOLD_SET
def test_arrow_group_agg_matches_group_agg(spark, batch):
    """``group_agg_arrow`` ≡ Spark's ``group_agg``: the same columns and
    types, counts and first/last timestamps exactly, sums exactly on
    quarter scores and within the summation-order error bound on other
    doubles (the two add in different orders)."""
    exact, rows = batch
    want = group_agg(spark.createDataFrame(rows, schema=EVENT_SCHEMA)).toArrow()
    got = group_agg_arrow(
        pa.Table.from_pylist([dict(zip(EVENT_SCHEMA.names, r)) for r in rows]), keys=("group_id",)
    )
    assert got.column_names == want.column_names
    assert [got.schema.field(c).type for c in AGG_COLUMNS] == [
        want.schema.field(c).type for c in AGG_COLUMNS
    ]
    want_rows = {r["group_id"]: r for r in want.to_pylist()}
    got_rows = {r["group_id"]: r for r in got.to_pylist()}
    assert got_rows.keys() == want_rows.keys()
    for g, w in want_rows.items():
        r = got_rows[g]
        assert (r["event_count"], r["first_event_timestamp"], r["last_event_timestamp"]) == (
            w["event_count"], w["first_event_timestamp"], w["last_event_timestamp"]
        )
        if exact:
            assert (r["cumulative_score"], r["avg_score"]) == (w["cumulative_score"], w["avg_score"])
        else:
            # any summation order errs by at most (n-1)·2⁻⁵³·Σ|x|
            bound = 1e-12 * sum(abs(s) for _, k, s, _ in rows if k == g)
            assert math.isclose(r["cumulative_score"], w["cumulative_score"], rel_tol=1e-9, abs_tol=bound)
            assert math.isclose(r["avg_score"], w["avg_score"], rel_tol=1e-9, abs_tol=bound / w["event_count"])


def _tear(monkeypatch, should_tear):
    """Make ``pq.write_table`` write only the first half of the first file
    whose path satisfies ``should_tear(path)``, then raise ``Crash``: a
    crash mid-write."""
    write = sinks.pq.write_table

    def torn(table, where, *args, **kwargs):
        write(table, where, *args, **kwargs)
        if should_tear(str(where)):
            with open(where, "r+b") as fh:
                fh.truncate(os.path.getsize(where) // 2)
            raise Crash("torn write")

    monkeypatch.setattr(sinks.pq, "write_table", torn)


def test_torn_state_write_leaves_the_version_unapplied(spark, tmp_path_factory, monkeypatch):
    """A crash while a version's state file is being written leaves the
    version unapplied, not unreadable: the table still reads the version
    before it, and the re-offered batch commits it."""
    gold = ParquetUpsertTable(
        spark, str(tmp_path_factory.mktemp("torn")), GOLD_SCHEMA, keys=("group_id",)
    )

    def rows(group):
        return spark.createDataFrame(_state_table({group: (1.0, 1, 5, 6)}), schema=GOLD_SCHEMA).toArrow()

    assert gold.upsert_state(rows("g1"), version=0, combine=replace_rows)
    with monkeypatch.context() as m:
        _tear(m, lambda path: path.endswith("/stage/v_1.parquet"))
        with pytest.raises(Crash):
            gold.upsert_state(rows("g2"), version=1, combine=replace_rows)
    assert not gold.version_applied(1)
    assert [r["group_id"] for r in gold.read().collect()] == ["g1"]
    assert gold.upsert_state(rows("g2"), version=1, combine=replace_rows)
    assert sorted(r["group_id"] for r in gold.read().collect()) == ["g1", "g2"]


# -- crash at each commit step, then the same batch re-offered ---------------


def _torn_feed_write(monkeypatch):
    _tear(monkeypatch, lambda path: "/stage/" in path)


def _after_feed_staged(monkeypatch):
    _arm(monkeypatch, sinks.pq, "write_table", lambda a, calls: "/stage/v_" in str(a[1]))


def _after_state_staged(monkeypatch):
    _arm(monkeypatch, sinks.os, "rename", lambda a, calls: "/data/v_" in str(a[1]))


def _after_state_rename(monkeypatch):
    _arm(monkeypatch, sinks.os, "rename", lambda a, calls: "/cdf/" in str(a[1]))


def _after_preimage_rename(monkeypatch):
    _arm(monkeypatch, sinks.os, "rename", lambda a, calls: "_update_postimage_" in str(a[0]))


def _after_postimage_rename(monkeypatch):
    _arm(monkeypatch, sinks.os, "rename", lambda a, calls: "_insert_" in str(a[0]))


#: (fault, True when the fault interrupts the commit before it is final)
FAULTS = [
    (_torn_feed_write, True),
    (_after_feed_staged, True),
    (_after_state_staged, True),
    (_after_state_rename, True),
    (_after_preimage_rename, True),
    (_after_postimage_rename, True),
    (None, False),  # after the last rename: the checkpoint commit is lost
]


def _events(v: int) -> list[tuple]:
    """Batch ``v``: three events for each of groups g0..g(11+4v), so every
    batch after the first updates groups the table holds and adds new
    ones.  Scores are multiples of 1/4, so every sum is exact in any
    order."""
    base_ms = 1_700_000_000_000 + v * 600_000
    return [
        (f"e{v}_{g}_{i}", f"g{g}", ((v + 1) * (g + 1) * (i + 1) % 37) / 4, base_ms + (g * 3 + i) * 1000)
        for g in range(12 + 4 * v)
        for i in range(3)
    ]


def _check_cdf(cdf_rows: list, n_versions: int) -> None:
    """Per version: one postimage or insert per changed key, a preimage
    exactly for the keys the table held, equal to that key's last
    committed row — so no key is counted twice."""
    by_version: dict[int, dict[str, list]] = {}
    for r in cdf_rows:
        by_version.setdefault(r["_commit_version"], {}).setdefault(r["_change_type"], []).append(r)
    assert sorted(by_version) == list(range(n_versions))
    last: dict[str, tuple] = {}
    for v in range(n_versions):
        types = by_version[v]
        assert set(types) <= {"update_preimage", "update_postimage", "insert"}
        pre = _rows(types.get("update_preimage", []))
        post = _rows(types.get("update_postimage", []))
        ins = _rows(types.get("insert", []))
        n_rows = {t: len(rs) for t, rs in types.items()}
        assert n_rows.get("update_preimage", 0) == len(pre), f"v{v}: duplicate preimage"
        assert n_rows.get("update_postimage", 0) == len(post), f"v{v}: duplicate postimage"
        assert n_rows.get("insert", 0) == len(ins), f"v{v}: duplicate insert"
        assert set(pre) == set(post) and not set(post) & set(ins)
        assert set(pre) == set(post) & set(last) and not set(ins) & set(last)
        assert pre == {k: last[k] for k in pre}, f"v{v}: preimage is not the prior row"
        last.update(post)
        last.update(ins)


def test_gold_commit_crash_at_each_step_then_replay(spark, tmp_path_factory, monkeypatch):
    """Batch v crashes at step v of the gold commit (a torn staged feed
    write, after the feed is staged, after the state file is staged, after
    the state rename, after the preimage rename, after the postimage
    rename, after the last rename) and is re-offered with the same batch
    id, as a restarted query does.  After each: the table is the pyarrow
    aggregate of every event so far, the change feed holds one image set
    per version with each key once, every feed file that landed before the
    crash is still there under its name (the retry rolls forward), and
    ``data/`` holds the newest two state files."""
    root = str(tmp_path_factory.mktemp("goldcrash"))
    pipe = MedallionPipeline(spark, root)
    silver_cols = [f.name for f in pipe.silver.schema.fields]
    events: list[tuple] = []
    for v, (fault, interrupts) in enumerate(FAULTS):
        batch = _events(v)
        events += batch
        pipe.silver.insert_if_absent(
            derive_event_columns(spark.createDataFrame(batch, schema=EVENT_SCHEMA)).select(*silver_cols),
            version=v,
        )
        files = glob.glob(f"{pipe.silver.cdf_dir}/v{v}_insert_*.parquet")

        with monkeypatch.context() as m:
            if fault is not None:
                fault(m)
                with pytest.raises(Crash):
                    pipe.fold_silver_files(files, v)
            else:
                pipe.fold_silver_files(files, v)
        assert pipe.gold.version_applied(v) is not interrupts
        landed = set(os.listdir(pipe.gold.cdf_dir))
        pipe.fold_silver_files(files, v)  # restart: the same batch re-offered
        assert pipe.gold.version_applied(v)
        assert landed <= set(os.listdir(pipe.gold.cdf_dir)), f"v{v}: a landed feed file was rewritten"
        assert not os.listdir(f"{root}/gold/stage")
        assert sorted(os.listdir(f"{root}/gold/data")) == [f"v_{u}.parquet" for u in range(max(v - 1, 0), v + 1)]

        want = (
            pa.Table.from_pylist([dict(zip(EVENT_SCHEMA.names, e)) for e in events])
            .group_by("group_id")
            .aggregate([("score", "sum"), ("score", "count"),
                        ("event_timestamp", "min"), ("event_timestamp", "max")])
        )
        want_rows = {
            r["group_id"]: (r["score_sum"], r["score_count"], r["score_sum"] / r["score_count"],
                            r["event_timestamp_min"], r["event_timestamp_max"])
            for r in want.to_pylist()
        }
        gold = {
            r["group_id"]: tuple(r[c] for c in STATE_COLS[1:]) for r in pipe.gold.read().collect()
        }
        assert gold == want_rows, f"gold diverged after the fault at v{v}"
        _check_cdf(pipe.gold.read_cdf().collect(), v + 1)
        # each key's newest postimage/insert in the feed is its table row
        assert _last_images(pipe) == {k: tuple(map(_bits, row)) for k, row in gold.items()}
    # every commit wrote at most three cdf files
    for v in range(len(FAULTS)):
        files = [n for n in os.listdir(pipe.gold.cdf_dir) if n.startswith(f"v{v}_")]
        assert 1 <= len(files) <= 3


# -- crash inside a query's body, then the query restarted -------------------


def _after(monkeypatch, owner, name, should_crash):
    """Make ``owner.name`` raise ``Crash`` right after the first call whose
    arguments satisfy ``should_crash(args)`` has returned: the step lands,
    then the body dies."""
    inner = getattr(owner, name)

    def landed(*args, **kwargs):
        out = inner(*args, **kwargs)
        if should_crash(args):
            monkeypatch.setattr(owner, name, inner)
            raise Crash(name)
        return out

    monkeypatch.setattr(owner, name, landed)


def _run_until_crash(start) -> None:
    """Start a query with a fault armed; it stops on the ``Crash`` its body
    raises."""
    with pytest.raises(StreamingQueryException, match="Crash"):
        start().awaitTermination()


def _drained_silver(spark, root: str) -> MedallionPipeline:
    """A pipeline whose silver holds four commits of generated events."""
    rows = EventGenerator(seed=21, workers=3).rows(120)
    events = spark.createDataFrame(rows, schema=EVENT_SCHEMA)
    events.repartitionByRange(4, "event_timestamp").write.parquet(f"{root}/source")
    pipe = MedallionPipeline(spark, f"{root}/tables", watermark_delay="1 hour")
    stream = file_stream(spark, f"{root}/source", EVENT_SCHEMA, max_files_per_trigger=1)
    pipe.start_bronze_to_silver(stream, available_now=True).awaitTermination()
    assert len(glob.glob(f"{pipe.silver.cdf_dir}/*.parquet")) == 4
    return pipe


def _assert_gold_is_silver_fold(pipe) -> dict:
    """Gold equals the pyarrow fold of every silver row: no event lost or
    counted twice.  Returns gold's rows by group."""
    silver = pq.read_table(pipe.silver.cdf_dir, columns=["group_id", "score", "event_timestamp"])
    folded = silver.group_by("group_id").aggregate(
        [("score", "sum"), ("score", "count"), ("event_timestamp", "min"), ("event_timestamp", "max")]
    )
    want = {
        r["group_id"]: (r["score_sum"], r["score_count"], r["event_timestamp_min"], r["event_timestamp_max"])
        for r in folded.to_pylist()
    }
    gold = {r["group_id"]: r.asDict() for r in pipe.gold.read().collect()}
    assert sorted(gold) == sorted(want)
    for g, (total, n, lo, hi) in want.items():
        r = gold[g]
        assert (r["event_count"], r["first_event_timestamp"], r["last_event_timestamp"]) == (n, lo, hi), g
        assert r["cumulative_score"] == pytest.approx(total, rel=1e-9), g
    return gold


def test_silver_to_gold_query_crash_then_restart(spark, tmp_path_factory, monkeypatch):
    """The silver→gold body raises before gold version 1's state rename;
    the restarted query raises after version 2's state rename (its feed
    not yet landed); the third start runs clean.  Each restart re-reads
    the failed batch's silver files from the checkpoint, and gold ends as
    the pyarrow fold of silver."""
    pipe = _drained_silver(spark, str(tmp_path_factory.mktemp("s2gcrash")))

    def start():
        return pipe.start_silver_to_gold(available_now=True, max_files_per_trigger=1)

    with monkeypatch.context() as m:
        _arm(m, sinks.os, "rename", lambda a, calls: str(a[1]).endswith("/gold/data/v_1.parquet"))
        _run_until_crash(start)
    assert sorted(os.listdir(f"{pipe.gold.root}/data")) == ["v_0.parquet"]
    with monkeypatch.context() as m:
        _after(m, sinks.os, "rename", lambda a: str(a[1]).endswith("/gold/data/v_2.parquet"))
        _run_until_crash(start)
    assert not pipe.gold.version_applied(2)  # its feed files are still staged
    start().awaitTermination()
    assert sorted(os.listdir(f"{pipe.gold.root}/data")) == ["v_2.parquet", "v_3.parquet"]
    assert not os.listdir(f"{pipe.gold.root}/stage")
    _assert_gold_is_silver_fold(pipe)


def test_gold_to_serving_query_crash_then_restart(spark, tmp_path_factory, monkeypatch):
    """The gold→serving body raises before its second snapshot rename; the
    restarted query raises right after the replayed batch's rename landed
    (so its checkpoint commit is lost); the third start runs clean.
    Serving ends equal to gold, one row per group."""
    pipe = _drained_silver(spark, str(tmp_path_factory.mktemp("g2scrash")))
    pipe.start_silver_to_gold(available_now=True, max_files_per_trigger=1).awaitTermination()
    gold = _assert_gold_is_silver_fold(pipe)

    def start():
        return pipe.start_gold_to_serving(available_now=True, max_files_per_trigger=3)

    with monkeypatch.context() as m:
        _arm(m, serving.os, "replace", lambda a, calls: len(calls) == 1)
        _run_until_crash(start)
    with monkeypatch.context() as m:
        _after(m, serving.os, "replace", lambda a: True)
        _run_until_crash(start)
    start().awaitTermination()
    rows = pipe.serving_view().collect()
    assert len(rows) == len({r["_id"] for r in rows})
    assert {r["_id"]: {k: r[k] for k in GOLD_SCHEMA.names} for r in rows} == gold
    assert all(r["_id"] == r["group_id"] for r in rows)


def _last_images(pipe) -> dict:
    """group_id → its newest postimage/insert row in the gold change feed."""
    rows = pipe.gold.read_cdf(change_types=["update_postimage", "insert"]).collect()
    last: dict = {}
    for r in sorted(rows, key=lambda r: r["_commit_version"]):
        last[r["group_id"]] = tuple(_bits(r[c]) for c in STATE_COLS[1:])
    return last


def _assert_refused(spark, root: str) -> None:
    """Opening ``root`` fails, names the root, and touches nothing in it."""
    before = sorted(os.walk(root))
    with pytest.raises(ValueError, match=re.escape(root)):
        ParquetUpsertTable(spark, root, GOLD_SCHEMA, keys=("group_id",))
    assert sorted(os.walk(root)) == before


def _old_version_dir(spark, root: str, bucket: int | None = None) -> None:
    """Version 0 of an old layout: ``data/v_0/`` finalized by its
    ``_SUCCESS`` manifest, with the state file in it or, key-bucketed, in
    ``__bucket=<bucket>/`` below it."""
    vd = f"{root}/data/v_0"
    files = vd if bucket is None else f"{vd}/__bucket={bucket}"
    os.makedirs(files)
    rows = spark.createDataFrame(_state_table({"g1": (1.0, 1, 5, 6)}), schema=GOLD_SCHEMA)
    pq.write_table(rows.toArrow(), f"{files}/part-0.parquet")
    with open(f"{vd}/_SUCCESS", "w") as fh:
        fh.write("[]")


def test_bucketed_root_is_refused(spark, tmp_path_factory):
    """A root in the old key-bucketed layout (``_table_meta.json`` plus
    ``data/v_<N>/__bucket=<b>/``) holds no state file this table reads;
    opening it would restart every running total from an empty prior, so
    it fails and names the root instead."""
    root = str(tmp_path_factory.mktemp("bucketed"))
    _old_version_dir(spark, root, bucket=3)
    with open(f"{root}/_table_meta.json", "w") as fh:
        fh.write('{"keys": ["group_id"], "n_buckets": 32}')
    _assert_refused(spark, root)


def test_version_dir_root_is_refused(spark, tmp_path_factory):
    """A root in the old version-dir layout (``data/v_<N>/part-<uuid>.parquet``
    finalized by ``_SUCCESS``) is refused the same way: its state is in a
    directory this table no longer reads."""
    root = str(tmp_path_factory.mktemp("versiondirs"))
    _old_version_dir(spark, root)
    os.makedirs(f"{root}/cdf")
    _assert_refused(spark, root)
