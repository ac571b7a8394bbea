"""Streaming layer (SURVEY.md §2.10 + §7 step 4): the reference's three
concurrent queries re-expressed as configurable pipeline stages."""

from kafka_streaming_spark.streaming.pipeline import MedallionPipeline
from kafka_streaming_spark.streaming.joins import interval_join
from kafka_streaming_spark.streaming.stateful import running_counter

__all__ = ["MedallionPipeline", "interval_join", "running_counter"]
