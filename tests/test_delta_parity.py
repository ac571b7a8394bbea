"""SURVEY.md §7 watch-list item 2: the medallion's two table commits keep
the contract of the reference's Delta MERGEs (silver.py:22-40, gold.py:19-45)
for the same batch sequence.  The engine has one table backend, the parquet
tables in ``io.sinks`` (``ParquetAppendTable`` for silver,
``ParquetUpsertTable`` for gold); each test runs that backend through one
invariant suite (``_silver_invariants`` / ``_gold_invariants``): within- and
cross-batch duplicates, replay idempotence, incremental ≡ batch folds.
"""

from __future__ import annotations

import pyarrow as pa

from kafka_streaming_spark.io.sinks import ParquetAppendTable, ParquetUpsertTable
from kafka_streaming_spark.ops.aggregates import combine_states_arrow, group_agg
from kafka_streaming_spark.ops.projections import derive_event_columns
from kafka_streaming_spark.schemas import EVENT_SCHEMA, SILVER_SCHEMA


BASE_MS = 1_700_000_000_000


def _batches(spark):
    """Three deterministic micro-batches covering the hazard matrix:
    within-batch duplicate (batch 1), cross-batch duplicate (batch 2),
    and an update-heavy batch touching existing keys only (batch 3)."""
    b1 = spark.createDataFrame(
        [
            ("a", "g1", 1.0, BASE_MS),
            ("b", "g1", 2.0, BASE_MS + 1_000),
            ("b", "g1", 2.0, BASE_MS + 1_000),  # within-batch dup
            ("c", "g2", 3.0, BASE_MS + 200_000),
        ],
        schema=EVENT_SCHEMA,
    )
    b2 = spark.createDataFrame(
        [
            ("b", "g1", 2.0, BASE_MS + 1_000),  # exact dup of batch-1 row
            ("d", "g2", 4.0, BASE_MS + 400_000),
        ],
        schema=EVENT_SCHEMA,
    )
    b3 = spark.createDataFrame(
        [
            ("e", "g1", 5.0, BASE_MS + 600_000),
            ("f", "g2", 6.0, BASE_MS + 800_000),
        ],
        schema=EVENT_SCHEMA,
    )
    cols = [f.name for f in SILVER_SCHEMA.fields]
    return [derive_event_columns(b).select(*cols) for b in (b1, b2, b3)]


def _silver_state(df):
    return sorted(tuple(r) for r in df.select("id", "group_id", "score").collect())


# ---------------------------------------------------------------------------
# Invariant suites — each takes the table's commit and read functions and
# asserts the FULL correctness contract.
# ---------------------------------------------------------------------------


def _silver_invariants(spark, insert, read):
    """``insert(batch, version)`` must behave as MERGE-insert-if-absent:

    1. within-batch duplicates collapse to one row;
    2. cross-batch duplicates are ignored;
    3. replaying an applied version never double-inserts;
    4. the final state equals the naive global dropDuplicates reference.
    """
    batches = _batches(spark)
    insert(batches[0], 0)
    s0 = _silver_state(read())
    assert len(s0) == 3  # within-batch dup collapsed (inv 1)

    insert(batches[1], 1)
    s1 = _silver_state(read())
    assert len(s1) == 4  # 'b' ignored, 'd' added (inv 2)

    # replay batch 1 (crash-recovery re-offer): state must not change
    insert(batches[1], 1)
    assert _silver_state(read()) == s1  # (inv 3)

    insert(batches[2], 2)
    ref = (
        batches[0]
        .unionByName(batches[1])
        .unionByName(batches[2])
        .dropDuplicates(["minute_timestamp", "id"])
    )
    assert _silver_state(read()) == _silver_state(ref)  # (inv 4)


def _gold_invariants(spark, upsert, read):
    """``upsert(agg, version)`` must maintain running aggregates such that:

    1. after every commit, state equals the one-shot aggregate over all
       events folded so far (incremental ≡ batch);
    2. first/last timestamps merge via least/greatest;
    3. replaying an applied version never double-counts.
    """
    from kafka_streaming_spark.schemas import GOLD_SCHEMA  # noqa: F401

    batches = _batches(spark)
    cols = [
        "group_id",
        "cumulative_score",
        "event_count",
        "first_event_timestamp",
        "last_event_timestamp",
    ]

    def state():
        return sorted(tuple(r) for r in read().select(*cols).collect())

    seen = None
    for i, b in enumerate(batches):
        # mirror the medallion contract: gold folds the rows silver NEWLY
        # inserted (its CDF) — within-batch dups collapsed AND cross-batch
        # dups anti-joined away — never the raw batch
        uniq = b.dropDuplicates(["minute_timestamp", "id"])
        if seen is not None:
            uniq = uniq.join(seen, ["minute_timestamp", "id"], "left_anti")
        agg = group_agg(uniq, keys=("group_id",), score_col="score", ts_col="event_timestamp")
        upsert(agg, i)
        seen = uniq if seen is None else seen.unionByName(uniq)
        ref = group_agg(
            seen.dropDuplicates(["minute_timestamp", "id"]),
            keys=("group_id",),
            score_col="score",
            ts_col="event_timestamp",
        )
        ref_state = sorted(tuple(r) for r in ref.select(*cols).collect())
        assert state() == ref_state, f"incremental != batch after commit {i}"

    # replay the last version: running totals must be unchanged
    last_agg = group_agg(
        batches[-1].dropDuplicates(["minute_timestamp", "id"]),
        keys=("group_id",),
        score_col="score",
        ts_col="event_timestamp",
    )
    before = state()
    upsert(last_agg, len(batches) - 1)
    assert state() == before


def test_silver_invariants_parquet(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pq_silver_inv"))
    pq = ParquetAppendTable(
        spark, f"{root}/pq", SILVER_SCHEMA, keys=("minute_timestamp", "id")
    )

    def insert(batch, version):
        pq.insert_if_absent(batch, version=version)

    _silver_invariants(spark, insert, pq.read)


def test_gold_invariants_parquet(spark, tmp_path_factory):
    from kafka_streaming_spark.schemas import GOLD_SCHEMA

    root = str(tmp_path_factory.mktemp("pq_gold_inv"))
    pq = ParquetUpsertTable(spark, f"{root}/pq", GOLD_SCHEMA, keys=("group_id",))

    def fold(prior, batch):
        state = combine_states_arrow(prior, batch, keys=("group_id",))
        return state.append_column("updated_at", pa.repeat(pa.scalar(0, pa.int64()), state.num_rows))

    def upsert(agg, version):
        if pq.version_applied(version):
            return
        pq.upsert_state(agg.toArrow(), version=version, combine=fold)

    _gold_invariants(spark, upsert, pq.read)
