"""X2/X3 — the streaming recommend cycle (reference
``spark_streaming_kafka.py`` E1 and ``spark_kafka.py`` E2, unified).

Per micro-batch (foreachBatch):
  parse rating events (done upstream via from_json) → union into the
  engine's ratings (U1) → optionally retrain (M6; cadence-controlled,
  NOT per-batch — the reference's full ALS refit per 1 s batch is its
  dominant cost, SURVEY.md §6) → top-k recommendations for the users
  seen in the batch → fan out to sinks (kafka/jdbc/redis/mongo via
  sources/), all executor-side.

The reference's four driver collects per batch (SURVEY.md §3 E1) are
gone: foreachBatch hands the executor-resident batch DataFrame straight
into DataFrame algebra. The batch is read from its source ONCE: the
empty-batch guard materializes it as a one-partition local checkpoint,
and the ingest and the serve's user set both read that copy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.dedup import _unpersist_rdds
from ..recommend import RecommendationEngine, _rdd_id


class StreamingRecommender:
    """Wraps a RecommendationEngine with micro-batch ingest + serving.

    ``retrain_every``: refit ALS every N non-empty batches (1 ≡ the
    reference's semantics; bigger amortizes training across batches
    while ratings still accumulate every batch).
    """

    def __init__(
        self,
        engine: RecommendationEngine,
        retrain_every: int = 5,
        top_k: int = 25,
        sink: Callable[[DataFrame, int], None] | None = None,
    ) -> None:
        self.engine = engine
        self.retrain_every = retrain_every
        self.top_k = top_k
        self.sink = sink
        self._batches_seen = 0
        self._batch: DataFrame | None = None

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> DataFrame | None:
        """foreachBatch body. ``batch_df``: (user_id, song_id, rating).
        Returns the recommendations served (None on empty batch).

        ``batch_df`` is read once, into a one-partition localCheckpoint
        that the emptiness check fills (X2's empty-batch guard, without
        collect); ``add_ratings`` and the serve's user set read that copy.
        The copy is freed when the next batch arrives, so the returned
        DataFrame stays readable until then."""
        if self._batch is not None:
            _unpersist_rdds(self.engine.spark.sparkContext, {_rdd_id(self._batch)})
        batch = self._batch = (
            batch_df.select("user_id", "song_id", "rating")
            .coalesce(1)
            .localCheckpoint(eager=False)
        )
        if batch.isEmpty():
            return None
        self._batches_seen += 1
        retrain = (self._batches_seen % self.retrain_every) == 0 or self.engine.model is None
        self.engine.add_ratings(batch, retrain=retrain)
        # One serve plan for the whole batch — no per-user driver loop
        # (a batch with 10k distinct users is one job, not 10k).
        recs = self.engine.get_top_ratings_for_users(batch.select("user_id"), self.top_k)
        if self.sink is not None:
            self.sink(recs, batch_id)
        return recs

    def writer(
        self, parsed_stream: DataFrame, trigger_seconds: int = 1
    ) -> DataStreamWriter:
        """Attach to a parsed rating-event stream (X1's 1 s cadence as
        default trigger, now a parameter instead of a hardcode)."""
        return (
            parsed_stream.writeStream.foreachBatch(self.process_batch)
            .trigger(processingTime=f"{trigger_seconds} seconds")
        )
