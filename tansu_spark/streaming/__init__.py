from tansu_spark.streaming.source import (
    dedup_stream,
    enrich_stream,
    running_totals,
    sessionize,
    stream_to_lake,
    stream_to_topic,
    topic_stream,
    windowed_counts,
)
from tansu_spark.streaming.generator import generate_batch, generator_stream
from tansu_spark.streaming.runner import run_available_now, start_foreach_batch

__all__ = [
    "topic_stream",
    "dedup_stream",
    "enrich_stream",
    "running_totals",
    "stream_to_topic",
    "stream_to_lake",
    "windowed_counts",
    "sessionize",
    "generate_batch",
    "generator_stream",
    "run_available_now",
    "start_foreach_batch",
]
