"""Delta Lake DDL / maintenance / MERGE helpers (SURVEY.md §2.11, D1-D4).

Every function probes for delta-spark at call time and raises a clear
``DeltaUnavailableError`` when it is absent — the rest of the engine runs on
plain parquet via ``io.sinks.ParquetAppendTable`` (insert-only MERGE) and
``io.sinks.ParquetUpsertTable`` (keyed upsert MERGE), whose method surface
mirrors the Delta-backed operations here so pipelines are backend-agnostic.

Reference sites: table builder with liquid clustering + CDF + auto-optimize
``stream-processor/processing/utils.py:54-108``; OPTIMIZE/ZORDER
``utils.py:111-124``; VACUUM ``utils.py:127-135``; pruned MERGE
``silver.py:22-40``; upsert MERGE ``gold.py:19-45``.
"""

from __future__ import annotations

import datetime

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class DeltaUnavailableError(RuntimeError):
    pass


def _sql_literal(v) -> str | None:
    """Render a Python value as a safe Spark-SQL literal for the MERGE
    prune predicate, or None when the type has no safe literal form.
    Python ``repr`` is NOT valid SQL for strings (quoting style) or
    dates/timestamps, and splicing data-derived strings unescaped into a
    merge condition is an injection surface."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        escaped = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    return None


def _delta():
    try:
        from delta.tables import DeltaTable

        return DeltaTable
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise DeltaUnavailableError(
            "delta-spark is not installed; use io.sinks.ParquetAppendTable / "
            "ParquetUpsertTable for the parquet-backed equivalents"
        ) from exc


def ensure_table(
    spark: SparkSession,
    name: str,
    schema: StructType,
    location: str,
    cluster_by: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
    cdf: bool = True,
    extra_properties: dict[str, str] | None = None,
):
    """D1: CREATE TABLE IF NOT EXISTS with liquid clustering (preferred) or
    hive partitioning, CDF, and auto-optimize properties (utils.py:54-108)."""
    DeltaTable = _delta()
    builder = (
        DeltaTable.createIfNotExists(spark)
        .tableName(name)
        .addColumns(schema)
        .location(location)
    )
    if cluster_by:
        builder = builder.clusterBy(*cluster_by)
    elif partition_by:
        builder = builder.partitionedBy(*partition_by)
    props = {
        "delta.enableChangeDataFeed": "true" if cdf else "false",
        "delta.autoOptimize.optimizeWrite": "true",
        "delta.autoOptimize.autoCompact": "true",
        "delta.deletedFileRetentionDuration": "interval 1 hours",
    }
    props.update(extra_properties or {})
    for k, v in props.items():
        builder = builder.property(k, v)
    return builder.execute()


def optimize(spark: SparkSession, name: str, zorder_by: Sequence[str] | None = None) -> None:
    """D2: OPTIMIZE [ZORDER BY] (utils.py:111-124)."""
    _delta()
    z = f" ZORDER BY ({', '.join(zorder_by)})" if zorder_by else ""
    spark.sql(f"OPTIMIZE {name}{z}")


def vacuum(spark: SparkSession, path: str, retention_hours: float = 168.0) -> None:
    """D3: VACUUM (utils.py:127-135, bootstrap.py:61-62)."""
    DeltaTable = _delta()
    DeltaTable.forPath(spark, path).vacuum(retention_hours)


def merge_insert_if_absent(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: Sequence[str],
    prune_col: str | None = None,
    prune_limit: int = 1000,
) -> None:
    """J1 on Delta: ``whenNotMatchedInsertAll`` with the IN-list prune
    (silver.py:10-40).  The prune predicate is a literal IN-list so Delta's
    data skipping statically eliminates non-matching files — the reference
    README's headline "Prune IN List" strategy."""
    DeltaTable = _delta()
    target = DeltaTable.forPath(spark, target_path)
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    if prune_col is not None:
        values = [r[0] for r in batch.select(prune_col).distinct().limit(prune_limit + 1).collect()]
        literals = [_sql_literal(v) for v in values if v is not None]
        # NULL prune values can never equi-match a target row, so dropping
        # them from the IN-list is semantics-preserving.  If any value's
        # type has no safe literal form, skip the prune (it is only an
        # optimization) rather than splice unescaped data into SQL.
        if len(values) <= prune_limit and all(lit is not None for lit in literals):
            if literals:
                cond = f"t.{prune_col} IN ({', '.join(literals)}) AND {cond}"
    target.alias("t").merge(batch.alias("s"), cond).whenNotMatchedInsertAll().execute()


def merge_upsert_aggregate(
    spark: SparkSession,
    target_path: str,
    batch_agg: DataFrame,
    key: str = "group_id",
) -> None:
    """J2 on Delta: running-total upsert (gold.py:19-45) — cumulative sum /
    count with the mean re-derived on both branches."""
    DeltaTable = _delta()
    target = DeltaTable.forPath(spark, target_path)
    (
        target.alias("t")
        .merge(batch_agg.alias("s"), f"t.{key} = s.{key}")
        .whenMatchedUpdate(
            set={
                "cumulative_score": "t.cumulative_score + s.cumulative_score",
                "event_count": "t.event_count + s.event_count",
                "avg_score": (
                    "(t.cumulative_score + s.cumulative_score) /"
                    " (t.event_count + s.event_count)"
                ),
                "first_event_timestamp": (
                    "least(t.first_event_timestamp, s.first_event_timestamp)"
                ),
                "last_event_timestamp": (
                    "greatest(t.last_event_timestamp, s.last_event_timestamp)"
                ),
                "updated_at": "unix_timestamp(current_timestamp()) * 1000",
            }
        )
        .whenNotMatchedInsert(
            values={
                "group_id": "s.group_id",
                "cumulative_score": "s.cumulative_score",
                "event_count": "s.event_count",
                "avg_score": "s.cumulative_score / s.event_count",
                "first_event_timestamp": "s.first_event_timestamp",
                "last_event_timestamp": "s.last_event_timestamp",
                "updated_at": "unix_timestamp(current_timestamp()) * 1000",
            }
        )
        .execute()
    )


def read_cdf(
    spark: SparkSession,
    path: str,
    starting_version: int = 0,
    change_types: Sequence[str] | None = None,
    streaming: bool = True,
) -> DataFrame:
    """S2/S3 + T4: Delta Change Data Feed scan with change-type routing
    (gold.py:50-58, tomongo.py:21-27)."""
    _delta()
    reader = spark.readStream if streaming else spark.read
    df = (
        reader.format("delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", str(starting_version))
        .load(path)
    )
    if change_types:
        df = df.filter(F.col("_change_type").isin(list(change_types)))
    return df
