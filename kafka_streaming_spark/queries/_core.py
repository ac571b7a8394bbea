"""Named query registry: every implemented operator from SURVEY.md §2 as a
driver-checkable (Spark, DuckDB-oracle) pair.

Registry contract (``/root/repo/__spark_entry__.py``): each entry maps
``name → (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)``.  The
driver runs both at sf=0.01 and compares row-count + schema + order-
insensitive value hash, so:

- every computed column is aliased identically on both sides;
- NO DECIMAL (and no TimestampType) ever appears in an output schema:
  aggregates accumulate in DECIMAL for order-independence but are emitted
  as DOUBLE through a scaled-BIGINT fixed point (see helpers below) so both
  engines produce bit-identical doubles; timestamps are epoch-millis BIGINT;
- no non-deterministic columns (current_timestamp, uuid) in outputs.

Queries whose semantics are not SQL-expressible (MinHash/LSH, SimHash,
hyperplane ANN, streaming pipeline) carry ``None`` oracles → the driver
records a rows-only check.

Broadcast policy (100 TB rule): ``F.broadcast`` is forced only on relations
whose size is bounded by a CONSTANT at every scale factor — nation (25),
region (5), single-row aggregates, top-k/query sets.  SF-scaled tables
(orders, customer, supplier, part, and anything derived from them) carry no
hint: at test scale the planner auto-broadcasts them from parquet stats
(same physical plan), and on a 100 TB cluster it correctly falls back to a
shuffle join + AQE instead of OOM-ing the executors on a forced broadcast.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streaming_spark.functions import dedup as D
from kafka_streaming_spark.functions import graph as G
from kafka_streaming_spark.functions import sampling as SP
from kafka_streaming_spark.functions import similarity as S
from kafka_streaming_spark.functions import text as T
from kafka_streaming_spark.functions.multimodal import decode_image_meta
from kafka_streaming_spark.ops.dedup import latest_per_key, merge_insert_if_absent
from kafka_streaming_spark.ops.joins import asof_join, band_join, salted_join
from kafka_streaming_spark.ops.layout import zorder
from kafka_streaming_spark.ops.sessionize import session_stats, session_window_agg
from kafka_streaming_spark.ops.partitioning import salt, spread, unsalt_agg
from kafka_streaming_spark.ops.windows import paginate, top_k_per_group
from kafka_streaming_spark.ops.timeops import sliding_agg, tumbling_agg
from kafka_streaming_spark.schemas import load_table
from kafka_streaming_spark.session import (
    HDFS_STATE_STORE,
    ROCKSDB_STATE_STORE,
    STATE_STORE_PROVIDER_CONF,
    scoped_conf,
)

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

# Hub bound for every within-key pair self-join (x_link_prediction,
# x_resource_allocation): keys whose degree exceeds this never enter the
# pairing join, capping per-key reducer work at C(cap, 2) ≈ 1.2k rows —
# the same discipline as functions/dedup.py's max_bucket=50 LSH miner.
# Mirrored literally as `d <= 50` in the paired DuckDB oracles.
PAIR_DEGREE_CAP = 50


def register(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


# --- numeric canonicalization helpers (see module docstring) ---------------
#
# Round-1 lesson: DECIMAL output columns hash differently under the driver's
# canonicalizer even when the value multisets are byte-identical, so DECIMAL
# never reaches an output schema.  Accumulation still happens in DECIMAL
# (exact, order-independent); the OUTPUT is always DOUBLE, produced the same
# way on both engines: shift the exact value to a scaled BIGINT (int→double
# is exact below 2^53), then one IEEE division — bit-identical everywhere.
# Constraint: |value| * 10^scale must stay under 2^53 (~9e12 at scale 6);
# fine for every checked aggregate at driver scale, and documented here for
# the 100 TB reader (switch `scale` down or keep raw BIGINT fixed-point).


def _fixed(col: Column, scale: int) -> Column:
    """Exact DECIMAL expression → deterministic DOUBLE (unaliased)."""
    m = 10**scale
    return (col * m).cast("long").cast("double") / F.lit(float(m))


def _round_fixed(col: Column, digits: int) -> Column:
    """DOUBLE → DOUBLE rounded to `digits` via BIGINT fixed point: both
    engines round ties away from zero (Spark HALF_UP ≡ C std::round), so
    the result is bit-identical (unaliased)."""
    m = float(10**digits)
    return F.round(col.cast("double") * F.lit(m), 0).cast("long").cast("double") / F.lit(m)


def dfix(col: Column, out: str, scale: int = 2) -> Column:
    """Alias form of :func:`_fixed` for exact-decimal columns."""
    return _fixed(col, scale).alias(out)


def dsum(col: Column, out: str, cast_scale: int = 2) -> Column:
    """Order-independent sum emitted as deterministic DOUBLE: cast each term
    to DECIMAL (exact accumulation), then fix the point via scaled BIGINT."""
    return _fixed(F.sum(col.cast(f"decimal(18,{cast_scale})")), cast_scale).alias(out)


def r6(col: Column, out: str) -> Column:
    """6-digit deterministic rounding emitted as DOUBLE (matches oracle
    ``CAST(ROUND(x * 1000000.0) AS BIGINT) / 1000000.0``)."""
    return _round_fixed(col, 6).alias(out)


def _bucket_ms(ts: Column) -> Column:
    """(epoch_millis / 1000 / 180) floored — reference silver.py:61."""
    return F.floor(F.unix_millis(ts) / 1000 / 180).cast("long")


def _witness_conf(spark: SparkSession, partitions: int, provider: str, no_data_batches: bool):
    """The scoped confs of a witness drain (see the two callers)."""
    conf = {
        "spark.sql.shuffle.partitions": str(partitions),
        STATE_STORE_PROVIDER_CONF: provider,
    }
    if not no_data_batches:
        conf["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    return scoped_conf(spark, conf)


def _tiny_stream_conf(
    spark: SparkSession, partitions: int = 4, no_data_batches: bool = True
):
    """Confine a tiny-state streaming WITNESS drain to cheap settings:
    few shuffle partitions and the in-memory HDFS state store.  The
    session default is RocksDB (``transformWithState`` needs it), but
    per-batch RocksDB maintenance is pure overhead at witness state
    sizes — measured 2x the whole drain wall-clock on
    t_stream_left_outer (12.7s → 6.3s).  State-store choice is an
    execution detail: emitted rows are identical under either provider.
    Restores the session confs afterward.

    ``no_data_batches=False`` scopes ``noDataMicroBatches.enabled=false``
    to the drain — see the ``_tws_stream_conf`` docstring for when that is
    safe."""
    return _witness_conf(spark, partitions, HDFS_STATE_STORE, no_data_batches)


def _tws_stream_conf(
    spark: SparkSession, partitions: int = 4, no_data_batches: bool = True
):
    """Confine a transformWithState witness drain to few shuffle
    partitions and the ROCKSDB state store — the opposite provider
    choice from :func:`_tiny_stream_conf`, because TWS state uses
    multiple column families, which HDFSBackedStateStoreProvider
    rejects outright (``multipleColumnFamiliesNotSupported``, measured
    r9).  Restores the session confs afterward.  ``partitions`` is kept
    small because state partition count is a fixed per-batch cost — one
    RocksDB instance + one Python state-server handshake each — not a
    semantics choice.

    ``no_data_batches=False`` additionally scopes
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` to the
    drain: an availableNow witness whose RESULT doesn't depend on a
    trailing empty batch (timer-only emissions that the caller filters
    out anyway) pays one full micro-batch of pure fixed cost for it —
    r12 interleaved A/B on t_stream_session_tws: 6.5s → 5.3s.  Leave
    True for any witness whose returned rows are emitted BY the
    trailing no-data batch."""
    return _witness_conf(spark, partitions, ROCKSDB_STATE_STORE, no_data_batches)


#: Poll deadlines (seconds), one per attempt, for the live-trigger
#: witnesses (t_stream_rate_soak / t_stream_ttl_counter).  Two entries =
#: one retry: their only driver shot per round is a real processingTime
#: drain, and on a heavily shared driver box a single transient deadline
#: miss would cost a full round (VERDICT r8 note #1).  The second miss
#: still fails loudly.  Tests monkeypatch this to (0.0, 120.0) to force a
#: first-attempt miss and exercise the retry path.
_LIVE_POLL_DEADLINES: tuple[float, ...] = (120.0, 120.0)


def _drain_live_sink(spark, what, start_query, is_done, poll_sec=0.2):
    """Drive a LIVE ``processingTime`` stream into a uuid-named memory
    sink until ``is_done(sink_table)`` holds, with one fresh-sink retry
    on a poll-deadline miss (`_LIVE_POLL_DEADLINES`).  Returns the name
    of the sink whose drain completed — the caller must aggregate it,
    MATERIALIZE the (small) result, and ``dropTempView`` it (ADVICE r8:
    a uuid-named memory sink left registered retains its drained rows
    for the life of the session).  A failed attempt's sink is dropped
    here before the retry."""
    import time as _time
    import uuid as _uuid

    for deadline_sec in _LIVE_POLL_DEADLINES:
        sink = f"{what}_{_uuid.uuid4().hex[:8]}"
        q = start_query(sink)
        done = False
        try:
            deadline = _time.monotonic() + deadline_sec
            while _time.monotonic() < deadline:
                if is_done(spark.table(sink)):
                    done = True
                    break
                _time.sleep(poll_sec)
        finally:
            q.stop()
            q.awaitTermination()
        if done:
            return sink
        spark.catalog.dropTempView(sink)
    # Fail LOUDLY after the final attempt: a partial drain would
    # otherwise surface as a baffling row-count mismatch in the driver
    # compare.
    raise RuntimeError(
        f"{what}: drain did not complete within any of "
        f"{len(_LIVE_POLL_DEADLINES)} poll deadlines "
        f"{_LIVE_POLL_DEADLINES}"
    )


