"""Aggregation operators (SURVEY.md §2.6 A1-A5).

``group_agg`` is the per-batch grouped multi-aggregate (gold.py:11-16);
``incremental_fold`` is the running-total maintenance the reference performs
with MERGE update expressions (gold.py:19-45, A2/J2) expressed as a pure
DataFrame fold so it is oracle-checkable without Delta.  ``combine_states``
is its reference combine step.  ``group_agg_arrow`` and
``combine_states_arrow`` are the same aggregate and combine on Arrow
tables, the forms the gold commit runs on the driver: it aggregates a
micro-batch's fetched rows, then folds each bucket.

Invariant (tested, FIXTURES.md F3): ``fold(batches) == group_agg(union(batches))``
for sum/count/min/max — the algebraic property that makes incremental
maintenance correct.  ``avg`` is re-derived from the folded sum/count on every
combine, exactly like gold.py:26-28.

Scale notes: ``group_agg`` is a hash aggregate with map-side partial
aggregation (Catalyst does this automatically) — one shuffle on the group
key.  ``incremental_fold`` shuffles only the *batch aggregate* (|groups|
rows, not |events|) against the running state, which is the whole point of
the reference's CDF-driven gold table: per-trigger work is proportional to
the delta, not the history.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Output column names, aligned with the reference gold schema
#: (config.py:44-56) minus the non-deterministic ``updated_at``.
AGG_COLUMNS = (
    "cumulative_score",
    "event_count",
    "avg_score",
    "first_event_timestamp",
    "last_event_timestamp",
)


def group_agg(
    df: DataFrame,
    keys: Sequence[str] = ("group_id",),
    score_col: str = "score",
    ts_col: str = "event_timestamp",
) -> DataFrame:
    """A1 + A5: ``groupBy(keys).agg(sum, count, min, max)`` with the derived
    mean (gold.py:11-16).  Double-precision accumulation (see schemas.py).
    """
    return df.groupBy(*keys).agg(
        F.sum(score_col).alias("cumulative_score"),
        F.count(F.lit(1)).alias("event_count"),
        (F.sum(score_col) / F.count(F.lit(1))).alias("avg_score"),
        F.min(ts_col).alias("first_event_timestamp"),
        F.max(ts_col).alias("last_event_timestamp"),
    )


def group_agg_arrow(table: pa.Table, keys: Sequence[str]) -> pa.Table:
    """``group_agg`` of ``score`` and ``event_timestamp`` on an Arrow table:
    the same columns with the same types.  Counts, minima and maxima match
    exactly; a sum may differ from Spark's in the last bits, because the
    two add in different orders.  Single-threaded, so one input always
    gives the same output."""
    keys = list(keys)
    agg = table.group_by(keys, use_threads=False).aggregate(
        [("score", "sum"), ([], "count_all"), ("event_timestamp", "min"), ("event_timestamp", "max")]
    )
    cum, cnt = agg["score_sum"], agg["count_all"]
    return pa.table(
        {
            **{k: agg[k] for k in keys},
            "cumulative_score": cum,
            "event_count": cnt,
            "avg_score": pc.divide(cum, pc.cast(cnt, pa.float64())),
            "first_event_timestamp": agg["event_timestamp_min"],
            "last_event_timestamp": agg["event_timestamp_max"],
        }
    )


def combine_states(state: DataFrame, batch_agg: DataFrame, keys: Sequence[str]) -> DataFrame:
    """J2 batch form: merge a batch's aggregate into the running state.

    Full outer join on the group keys + coalesce arithmetic — the DataFrame
    equivalent of ``whenMatchedUpdate(set={cumulative_score: t.c + s.c, ...})
    .whenNotMatchedInsert(...)`` (gold.py:19-45).

    Deviation from the reference, on purpose: ``first_event_timestamp`` is
    maintained as a true running ``least`` (the reference overwrites it with
    each batch's min — "batch-first", documented in FIXTURES.md F3; the
    reference behaviour is pinned separately in tests).
    """
    # Qualified string refs ("t.x"), not DataFrame-object refs (t["x"]):
    # state and batch_agg routinely share lineage (both derived from the
    # same source), and object refs are ambiguous under self-join analysis.
    t = state.alias("t")
    s = batch_agg.alias("s")
    tc, sc = (lambda c: F.col(f"t.{c}")), (lambda c: F.col(f"s.{c}"))
    cond = [tc(k) == sc(k) for k in keys]
    cum = F.coalesce(tc("cumulative_score"), F.lit(0.0)) + F.coalesce(
        sc("cumulative_score"), F.lit(0.0)
    )
    cnt = F.coalesce(tc("event_count"), F.lit(0)) + F.coalesce(sc("event_count"), F.lit(0))
    return t.join(s, cond if len(cond) > 1 else cond[0], "full_outer").select(
        *[F.coalesce(tc(k), sc(k)).alias(k) for k in keys],
        cum.alias("cumulative_score"),
        cnt.alias("event_count"),
        (cum / cnt).alias("avg_score"),
        F.least(tc("first_event_timestamp"), sc("first_event_timestamp")).alias(
            "first_event_timestamp"
        ),
        F.greatest(tc("last_event_timestamp"), sc("last_event_timestamp")).alias(
            "last_event_timestamp"
        ),
    )


def combine_states_arrow(state: pa.Table, batch_agg: pa.Table, keys: Sequence[str]) -> pa.Table:
    """``combine_states`` on Arrow tables: the same full outer join on the
    group keys and the same arithmetic in the same order (``state +
    batch``), so every value matches the DataFrame form bit for bit.
    Extra columns of either input (``updated_at``, a bucket id) are
    ignored; the output has the key and ``AGG_COLUMNS`` columns."""
    keys = list(keys)
    folded = ["cumulative_score", "event_count", "first_event_timestamp", "last_event_timestamp"]
    j = state.select(keys + folded).join(
        batch_agg.select(keys + folded),
        keys=keys,
        join_type="full outer",
        left_suffix="_t",
        right_suffix="_s",
        coalesce_keys=True,
    )
    t, s = (lambda c: j[f"{c}_t"]), (lambda c: j[f"{c}_s"])
    cum = pc.add(
        pc.coalesce(t("cumulative_score"), pa.scalar(0.0)),
        pc.coalesce(s("cumulative_score"), pa.scalar(0.0)),
    )
    zero = pa.scalar(0, pa.int64())
    cnt = pc.add(pc.coalesce(t("event_count"), zero), pc.coalesce(s("event_count"), zero))
    return pa.table(
        {
            **{k: j[k] for k in keys},
            "cumulative_score": cum,
            "event_count": cnt,
            "avg_score": pc.divide(cum, pc.cast(cnt, pa.float64())),
            "first_event_timestamp": pc.min_element_wise(
                t("first_event_timestamp"), s("first_event_timestamp")
            ),
            "last_event_timestamp": pc.max_element_wise(
                t("last_event_timestamp"), s("last_event_timestamp")
            ),
        }
    )


def incremental_fold(
    batches: Iterable[DataFrame],
    keys: Sequence[str] = ("group_id",),
    score_col: str = "score",
    ts_col: str = "event_timestamp",
) -> DataFrame:
    """A2: fold per-batch aggregates into a running gold state.

    ``least``/``greatest`` ignore NULLs (Spark semantics), so outer-join
    misses coalesce correctly.
    """
    state: DataFrame | None = None
    for batch in batches:
        agg = group_agg(batch, keys, score_col, ts_col)
        state = agg if state is None else combine_states(state, agg, keys)
    if state is None:
        raise ValueError("incremental_fold requires at least one batch")
    return state
