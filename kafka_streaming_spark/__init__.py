"""kafka_streaming_spark — a PySpark-native analytics engine.

A layered, tested library of idiomatic Spark primitives providing the query
and data-processing capabilities of the reference medallion pipeline
(korntewin/kafka-streaming, surveyed in SURVEY.md):

- ``session``    — SparkSession builders tuned for local dev and cluster scale
- ``schemas``    — fixed StructType schemas (event / silver / gold) + testdata
- ``io``         — sources (parquet, Kafka option bundles, file/rate streams)
                   and sinks (foreachBatch writers and the parquet tables
                   that are the engine's one table backend: insert-only
                   silver, keyed-upsert gold, each with a change feed)
- ``ops``        — batch operators: projections, filters, dedup, joins,
                   aggregates, windows, time bucketing
- ``functions``  — column-level packs: text analysis, document dedup
                   (exact / MinHash / SimHash / n-gram Jaccard), embedding
                   similarity (cosine top-k, LSH)
- ``streaming``  — watermarked dedup → insert-if-absent silver → incremental
                   gold → serving sink pipeline, runnable with availableNow

Everything in the core is Catalyst-native (no Python UDFs on the hot path);
Pandas UDFs appear only where built-ins cannot express the semantics
(multimodal decode stubs).
"""

from kafka_streaming_spark.session import build_session

__all__ = ["build_session"]
__version__ = "0.1.0"
