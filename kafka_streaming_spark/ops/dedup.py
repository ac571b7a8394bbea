"""Deduplication operators (SURVEY.md §2.5 J1, §2.7 W1, §2.10 T2 batch forms).

The reference deduplicates twice:

- in-stream: ``dropDuplicatesWithinWatermark(["id"])`` (silver.py:66), here
  done statelessly by ``io.sinks.ParquetAppendTable.insert_if_absent``;
- cross-history: MERGE ``whenNotMatchedInsertAll`` on ``(minute_timestamp,
  id)`` with an IN-list prune predicate (silver.py:22-40) — semantically a
  left-anti join followed by append.

Scale notes: ``latest_per_key``/``first_seen`` are single-shuffle window
ranks on the key columns; ``merge_insert_if_absent`` prunes the target scan
with the incoming batch's bucket values *before* the anti-join, so at 100 TB
the join touches only the target files whose bucket matches the batch (the
same file-skipping the reference gets from Delta liquid clustering +
"Prune IN List").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _rank_spec(keys: Sequence[str], order_by: Sequence[Column]) -> Column:
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    return F.row_number().over(w)


def latest_per_key(
    df: DataFrame, keys: Sequence[str], order_col: str, tiebreak: str | None = None
) -> DataFrame:
    """Keep the newest row per key — W1 idiom (silver.py:7,13-18, the
    reference's commented-out batch dedup): ``row_number() over (partition by
    keys order by order_col desc) = 1``.  ``tiebreak`` makes ordering total
    (deterministic) when ``order_col`` has duplicates.
    """
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    return (
        df.withColumn("__rn", _rank_spec(keys, order))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def first_seen(
    df: DataFrame, keys: Sequence[str], order_col: str, tiebreak: str | None = None
) -> DataFrame:
    """Keep the oldest row per key — the batch analogue of the reference's
    stream dedup (T2, silver.py:66), which keeps the first occurrence of
    each key, as the silver commit does."""
    order = [F.col(order_col).asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    return (
        df.withColumn("__rn", _rank_spec(keys, order))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def prune_in_list(target: DataFrame, source: DataFrame, prune_col: str) -> DataFrame:
    """F3: restrict ``target`` to the partitions/buckets present in
    ``source`` before joining (silver.py:22-28's "Prune IN List").

    The reference collects distinct bucket values to the driver and splices
    them into the MERGE condition string; on parquet/Delta the equivalent —
    and more scalable — form is a semi-join on the bucket column, which AQE
    can execute as a broadcast and which data skipping / partition pruning
    understands.  We keep the literal IN-list when the list is tiny (same
    guarantee the reference wanted: static pruning), falling back to a
    semi-join for high-cardinality bucket sets instead of shipping a huge
    IN-list through the plan.
    """
    values = [r[0] for r in source.select(prune_col).distinct().limit(1001).collect()]
    if len(values) <= 1000:  # A3: driver round-trip is bounded and tiny
        return target.filter(F.col(prune_col).isin(values))
    return target.join(
        F.broadcast(source.select(prune_col).distinct()), on=prune_col, how="left_semi"
    )


def merge_insert_if_absent(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    prune_col: str | None = None,
) -> DataFrame:
    """J1 batch form: rows of ``target`` plus the ``source`` rows whose key
    is not already present — the dedup-across-history operator
    (silver.py:32-40 ``whenNotMatchedInsertAll``).

    Returns ``target ∪ (source ⟕anti target)``.  With ``prune_col`` the
    anti-join's target side is first pruned to the source's buckets (F3), so
    the anti-join never scans history outside the incoming buckets.  The
    streaming form is ``io.sinks.ParquetAppendTable.insert_if_absent``,
    silver's commit; there is no Delta-backed variant.
    """
    probe = target
    if prune_col is not None:
        probe = prune_in_list(target, source, prune_col)
    new_rows = source.join(probe.select(*keys), on=list(keys), how="left_anti")
    return target.unionByName(new_rows.select(*target.columns))
