"""Data layout: Z-order clustering and compaction for parquet tables.

The parquet-backend analog of the reference's OPTIMIZE / ZORDER BY
maintenance (``stream-processor/processing/utils.py:111-124``) and the
capability behind Delta liquid clustering (``utils.py:87-93``): co-locate
rows that are close in a multi-column key space into the same files so
min/max file statistics let scans skip everything else.

Spark-first shape — no UDFs, no driver loops:

1. normalize each clustering column to a ``bits``-wide integer bucket
   (one min/max aggregate over the input, a single job);
2. interleave the bucket bits into a Morton (Z-curve) code — a pure
   Catalyst expression tree of shifts and masks, fully codegen'd;
3. ``repartitionByRange`` on the code (one range shuffle; Spark samples
   boundaries) + ``sortWithinPartitions`` so every output file covers a
   tight hyper-rectangle of the key space.

At 100 TB this is exactly Delta's OPTIMIZE ZORDER plan: one pass, one range
shuffle, file count = target partition count.  Min/max normalization keeps
the hot path stat-based; for heavily skewed columns substitute rank buckets
(``F.ntile``) at the cost of a per-column sort — documented, not default.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucketize(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Map a numeric column into [0, 2^bits) by min/max range position."""
    top = (1 << bits) - 1
    span = (cmax - cmin).cast("double")
    pos = F.when(span > 0, (col.cast("double") - cmin.cast("double")) / span).otherwise(
        F.lit(0.0)
    )
    return F.least(F.floor(pos * (top + 1)).cast("long"), F.lit(top))


def morton_code(bucket_cols: Sequence[Column], bits: int) -> Column:
    """Interleave the low ``bits`` bits of each bucket column into one
    Z-curve value.  Bit ``i`` of column ``j`` lands at position
    ``i * n_cols + j`` — columns' buckets must already be < 2^bits.
    The expansion is ``bits * n_cols`` shift/mask terms, all JVM-side."""
    n = len(bucket_cols)
    terms: list[Column] = []
    for j, c in enumerate(bucket_cols):
        for i in range(bits):
            # ((c >> i) & 1) << (i * n + j); disjoint targets, so sum == or.
            terms.append(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder(
    df: DataFrame,
    cols: Sequence[str],
    n_files: int,
    bits: int = 12,
    code_col: str = "__zcode",
) -> DataFrame:
    """Return ``df`` redistributed into ``n_files`` range partitions of the
    Z-curve over ``cols`` and sorted by the code within each, ready to
    write.  One aggregate job (min/max per column) + one range shuffle."""
    stats = df.agg(
        *[F.min(c).alias(f"__min_{c}") for c in cols],
        *[F.max(c).alias(f"__max_{c}") for c in cols],
    ).collect()[0]
    buckets = [
        _bucketize(
            F.col(c), F.lit(stats[f"__min_{c}"]), F.lit(stats[f"__max_{c}"]), bits
        )
        for c in cols
    ]
    coded = df.withColumn(code_col, morton_code(buckets, bits))
    return (
        coded.repartitionByRange(n_files, code_col)
        .sortWithinPartitions(code_col)
        .drop(code_col)
    )


def optimize_parquet(
    spark,
    path: str,
    zorder_by: Sequence[str] | None = None,
    target_files: int | None = None,
) -> int:
    """OPTIMIZE analog for a parquet directory (reference utils.py:111-124
    semantics on the parquet backend): compact small files and optionally
    Z-order by ``zorder_by``.  Stage-then-rename, the crash protocol of the
    ``io.sinks`` tables: the old files are removed only after the staged
    replacement is fully written.  Returns the new file count."""
    df = spark.read.parquet(path)
    if target_files is None:
        target_files = max(1, spark.sparkContext.defaultParallelism // 4)
    out = (
        zorder(df, zorder_by, target_files)
        if zorder_by
        else df.repartition(target_files)
    )
    stage = path.rstrip("/") + ".optimize_stage"
    shutil.rmtree(stage, ignore_errors=True)
    out.write.mode("overwrite").parquet(stage)
    new_files = [n for n in sorted(os.listdir(stage)) if n.endswith(".parquet")]
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            os.remove(os.path.join(path, name))
    for name in new_files:
        os.rename(os.path.join(stage, name), os.path.join(path, f"zopt_{name}"))
    shutil.rmtree(stage, ignore_errors=True)
    return len(new_files)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    keys: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Write ``df`` as a hash-bucketed, per-bucket-sorted parquet table.

    Bucketing is the PRE-PAID shuffle: rows are hash-partitioned on
    ``keys`` into ``buckets`` files per write-partition at write time, and
    the catalog records the layout.  Every later equi-join or aggregation
    on the bucket keys between tables with the same bucket count then runs
    with NO Exchange at all — the planner proves co-location from metadata
    (gated in ``tests/test_layout.py::test_bucketed_join_is_shuffle_free``).
    At 100 TB this is the difference between re-shuffling the fact table
    for every join and shuffling it once per ingest: the canonical layout
    for a dimension repeatedly joined on the same key, and the parquet
    analog of the reference's clustered silver/gold tables
    (``stream-processor/processing/utils.py:87-93``) optimized for joins
    rather than range scans (Z-order, above, optimizes for those).

    ``path`` makes the table external (files live there; the catalog entry
    is metadata only) — pass it in tests to keep writes inside tmp dirs.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, keys[0], *list(keys[1:]))
        .sortBy(*(list(sort_cols) if sort_cols else list(keys)))
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def file_ranges(df_with_file: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-file min/max of ``cols`` — the statistics a scan planner uses
    for file skipping.  Input must carry ``__file`` (input_file_name)."""
    return df_with_file.groupBy("__file").agg(
        *[F.min(c).alias(f"min_{c}") for c in cols],
        *[F.max(c).alias(f"max_{c}") for c in cols],
    )


def skipped_fraction(spark, path: str, col: str, value) -> float:
    """Fraction of files a min/max-pruning scan skips for ``col = value`` —
    the measurable payoff of clustering (1.0 = every file skipped)."""
    df = spark.read.parquet(path).withColumn("__file", F.input_file_name())
    ranges = file_ranges(df, [col]).collect()
    if not ranges:
        return 0.0
    hit = sum(1 for r in ranges if r[f"min_{col}"] <= value <= r[f"max_{col}"])
    return 1.0 - hit / len(ranges)
