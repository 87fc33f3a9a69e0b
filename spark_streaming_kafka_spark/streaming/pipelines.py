"""End-to-end pipeline compositions — the runnable equivalents of the
reference's entry-point scripts (SURVEY.md §3), wired from this
package's parts. A user of the reference switches here:

  spark_streaming_kafka.py (E1)  →  build_recommend_pipeline()
  spark_kafka.py           (E2)  →  build_recommend_pipeline(sinks=[...])
  kafka_streaming.py             →  build_wordcount_pipeline()

Each builder returns an UNSTARTED writer (call ``.start()`` with a real
broker; substitute any streaming DataFrame — memory/rate/file — for
tests, which is how tests/test_streaming.py drives the same code).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..recommend import RecommendationEngine
from ..schemas import RATING_EVENT_A
from ..sources.kafka import kafka_source, parse_kafka_json, to_kafka_records
from .recommend_stream import StreamingRecommender
from .wordcount import streaming_word_count


def parsed_rating_stream(
    spark: SparkSession, bootstrap_servers: str, topic: str = "rate_test"
) -> DataFrame:
    """Kafka topic of shape-A rating events → typed (user_id, song_id,
    rating) stream (E1's ingest leg: one from_json pass, no eval)."""
    raw = kafka_source(spark, bootstrap_servers, topic)
    parsed = parse_kafka_json(raw, RATING_EVENT_A)
    return parsed.selectExpr(
        "userid AS user_id", "songid AS song_id", "CAST(rating AS double) AS rating"
    )


def build_recommend_pipeline(
    spark: SparkSession,
    engine: RecommendationEngine,
    bootstrap_servers: str,
    in_topic: str = "rate_test",
    out_topic: str = "music_test",
    checkpoint_dir: str = "/tmp/ckpt/recommend",
    retrain_every: int = 5,
    top_k: int = 25,
    trigger_seconds: int = 1,
    extra_sinks: list[Callable[[DataFrame, int], None]] | None = None,
) -> DataStreamWriter:
    """E1+E2 unified: Kafka in → foreachBatch {ingest → cadenced retrain
    → top-k for batch users} → Kafka out (+ any extra sinks: jdbc/redis/
    mongo writers from sources.sinks), all executor-side."""
    recommender = StreamingRecommender(
        engine,
        retrain_every=retrain_every,
        top_k=top_k,
        sink=_recommend_sinks(bootstrap_servers, out_topic, extra_sinks),
    )
    stream = parsed_rating_stream(spark, bootstrap_servers, in_topic)
    return recommender.writer(stream, trigger_seconds).option(
        "checkpointLocation", checkpoint_dir
    )


def _recommend_sinks(
    bootstrap_servers: str,
    out_topic: str,
    extra_sinks: list[Callable[[DataFrame, int], None]] | None,
) -> Callable[[DataFrame, int], None]:
    """The E2 fan-out: each batch's recommendations to Kafka, then to
    every extra sink. With more than one sink the recommendations are
    cached, so the serve plan runs once per batch (the first write fills
    the cache, the others read it), and the cache is dropped after the
    last sink."""
    from ..sources.kafka import kafka_batch_write

    sinks = list(extra_sinks or [])

    def fan_out(recs: DataFrame, batch_id: int) -> None:
        if sinks:
            recs = recs.cache()
        try:
            records = to_kafka_records(
                recs, recs["user_id"], ["song_id", "predicted_rating", "num_ratings"]
            )
            kafka_batch_write(records, bootstrap_servers, out_topic)
            for sink in sinks:
                sink(recs, batch_id)
        finally:
            if sinks:
                recs.unpersist()

    return fan_out


def build_wordcount_pipeline(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "word_test",
    checkpoint_dir: str = "/tmp/ckpt/wordcount",
    trigger_seconds: int = 5,
) -> DataStreamWriter:
    """kafka_streaming.py rebuilt: Kafka text → running word counts
    (update mode; the reference's per-batch-reset variant lives in
    streaming/wordcount.py::per_batch_word_count_writer)."""
    raw = kafka_source(spark, bootstrap_servers, topic)
    lines = raw.selectExpr("CAST(value AS STRING) AS value")
    counts = streaming_word_count(lines, "value")
    return (
        counts.writeStream.outputMode("update")
        .format("console")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
