"""Streaming pipelines via memory source/sink micro-batch tests —
no Kafka broker needed (the Kafka builders' option wiring is checked
separately in test_sources.py). The broker-backed roundtrip below
self-skips with pinned JAR coordinates when the environment lacks
the connector/broker (this container ships neither)."""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
import pytest

from spark_streaming_kafka_spark.streaming.sessions import flush_complete_sessions
from spark_streaming_kafka_spark.streaming.wordcount import streaming_word_count

#: Exact, reproducible requirements for the live-Kafka e2e path
#: (pyspark 4.1.2 is built against Scala 2.13 / Kafka clients 3.x):
#:   spark.jars.packages = org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2
#:     (transitively: org.apache.spark:spark-token-provider-kafka-0-10_2.13:4.1.2,
#:      org.apache.kafka:kafka-clients)
#:   SPARK_GRAFT_KAFKA_BOOTSTRAP=<host:port of a reachable broker>
_KAFKA_BOOTSTRAP = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
_KAFKA_SKIP = (
    "live Kafka e2e needs spark-sql-kafka connector + broker: start a "
    "session with spark.jars.packages="
    "org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 and export "
    "SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port (container has no connector "
    "JAR under pyspark/jars and no broker; verified absent 2026-08-13)"
)


@pytest.mark.skipif(_KAFKA_BOOTSTRAP is None, reason=_KAFKA_SKIP)
def test_kafka_roundtrip_e2e(spark):
    """Batch write → batch read roundtrip through a real broker: the
    e2e path (to_kafka_records → kafka sink → kafka batch source →
    parse) that the wiring tests can only shape-check."""
    from spark_streaming_kafka_spark.sources.kafka import (
        kafka_batch_source,
        to_kafka_records,
    )

    topic = f"sparkgraft_e2e_{int(time.time())}"
    df = spark.createDataFrame(
        [(1, "t1", 4.5), (2, "t2", 3.0)], "user_id int, title string, pred double"
    )
    (
        to_kafka_records(df, F.col("user_id"), ["title", "pred"])
        .write.format("kafka")
        .option("kafka.bootstrap.servers", _KAFKA_BOOTSTRAP)
        .option("topic", topic)
        .save()
    )
    back = kafka_batch_source(spark, _KAFKA_BOOTSTRAP, topic)
    rows = back.selectExpr("CAST(key AS STRING) k", "CAST(value AS STRING) v").collect()
    assert {r["k"] for r in rows} == {"1", "2"}


def _await_rows(spark, table: str, minimum: int, timeout: float = 30.0):
    deadline = time.time() + timeout
    while time.time() < deadline:
        rows = spark.sql(f"SELECT * FROM {table}").collect()
        if len(rows) >= minimum:
            return rows
        time.sleep(0.5)
    raise AssertionError(f"memory sink {table} never reached {minimum} rows")


def test_streaming_word_count_running_totals(spark):
    spark.sql("DROP TABLE IF EXISTS wc_out")
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .withColumn("value", F.concat(F.lit("w"), (F.col("value") % 3).cast("string")))
    )
    q = (
        streaming_word_count(stream, "value")
        .writeStream.format("memory")
        .queryName("wc_out")
        .outputMode("complete")
        .start()
    )
    try:
        rows = _await_rows(spark, "wc_out", 3)
        words = {r["word"] for r in rows}
        assert {"w0", "w1", "w2"} <= words
        assert all(r["count"] >= 1 for r in rows)
    finally:
        q.stop()


def test_foreach_batch_pipeline(spark):
    """X2 — foreachBatch over a rate source: per-batch transform runs
    and sees executor-resident DataFrames (no driver collect)."""
    seen: list[tuple[int, int]] = []

    stream = spark.readStream.format("rate").option("rowsPerSecond", "100").load()

    def process(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        seen.append((batch_id, batch_df.count()))

    q = stream.writeStream.foreachBatch(process).trigger(processingTime="1 seconds").start()
    try:
        deadline = time.time() + 30
        while time.time() < deadline and len(seen) < 2:
            time.sleep(0.5)
        assert len(seen) >= 2
        assert all(n > 0 for _, n in seen)
    finally:
        q.stop()


def _completed_tasks(sc, group: str) -> int:
    st = sc.statusTracker()
    return sum(
        st.getStageInfo(s).numCompletedTasks
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None
    )


def _trained_engine(spark):
    from spark_streaming_kafka_spark.recommend import RecommendationEngine

    rows = [
        (u, s, 2.0 + (u * 3 + s) % 4)
        for u in range(30)
        for s in range(20)
        if (u + s) % 2 == 0
    ]
    ratings = spark.createDataFrame(rows, "user_id int, song_id int, rating double")
    eng = RecommendationEngine(spark, ratings, rank=4, max_iter=3, min_ratings=1)
    eng.retrain()
    return eng


def test_batch_serving_jobs_invariant_in_user_count(spark):
    """The round-1 scale-killer: serving launched one Spark job PER
    distinct user in the batch. Invariant now: job count for a
    12-user micro-batch equals job count for a 2-user one."""
    from spark_streaming_kafka_spark.streaming.recommend_stream import (
        StreamingRecommender,
    )

    eng = _trained_engine(spark)
    rec = StreamingRecommender(eng, retrain_every=1000, top_k=3)
    sc = spark.sparkContext

    def jobs_for_batch(n_users: int) -> int:
        batch = spark.createDataFrame(
            [(u, u % 20, 3.0) for u in range(n_users)],
            "user_id int, song_id int, rating double",
        )
        group = f"serve-{n_users}"
        sc.setJobGroup(group, group)
        try:
            out = rec.process_batch(batch, batch_id=n_users)
            out.count()
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)

    jobs_small = jobs_for_batch(2)
    jobs_large = jobs_for_batch(12)
    assert jobs_large <= jobs_small + 1  # independent of distinct-user count


def test_process_batch_reads_batch_once_and_holds_tasks_flat(spark):
    """A cycle costs its own batch's work: the batch source is read once
    (the emptiness check, the ingest and the serve's user set share one
    copy) and, over 8 non-retrain cycles of multi-partition batches, the
    tasks per cycle do not grow with the history."""
    from spark_streaming_kafka_spark.streaming.recommend_stream import (
        StreamingRecommender,
    )

    eng = _trained_engine(spark)
    served = []
    rec = StreamingRecommender(
        eng, retrain_every=1000, top_k=3, sink=lambda recs, b: served.append(recs.count())
    )
    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def read(u):
        reads.add(1)
        return u

    counted = F.udf(read, "int").asNondeterministic()
    tasks = []
    for b in range(1, 9):
        batch = spark.createDataFrame(
            [(u, (u + b) % 20, 3.0) for u in range(10)],
            "user_id int, song_id int, rating double",
        ).repartition(3)
        group = f"flat-cycle-{b}"
        sc.setJobGroup(group, group)
        try:
            before = reads.value
            rec.process_batch(batch.withColumn("user_id", counted("user_id")), b)
        finally:
            sc.setJobGroup(None, None)
        assert reads.value - before == 10, b
        tasks.append(_completed_tasks(sc, group))
    assert len(served) == 8 and all(served)
    assert tasks[7] <= tasks[1], tasks
    eng.unpersist()


def test_recommend_fan_out_runs_serve_plan_once(spark, monkeypatch):
    """E2's fan-out (Kafka + extra sinks) executes the serve plan once
    per batch, not once per sink: the user-factor scan runs once."""
    from spark_streaming_kafka_spark.sources import kafka
    from spark_streaming_kafka_spark.streaming.pipelines import _recommend_sinks

    written = []
    monkeypatch.setattr(
        kafka, "kafka_batch_write", lambda df, servers, topic: written.append(df.count())
    )
    eng = _trained_engine(spark)
    model = eng.model
    n_users = model.userFactors.count()
    sc = spark.sparkContext
    scans = sc.accumulator(0)

    def scan(i):
        scans.add(1)
        return i

    class CountingModel:
        """The trained model, with every user-factor row read counted."""

        rank = model.rank
        userFactors = model.userFactors.withColumn(
            "id", F.udf(scan, "int").asNondeterministic()("id")
        )
        itemFactors = model.itemFactors

    eng.model = CountingModel()
    got: list[list[int]] = [[], []]
    fan_out = _recommend_sinks(
        "localhost:9092",
        "music_test",
        [lambda recs, b: got[0].append(recs.count()), lambda recs, b: got[1].append(recs.count())],
    )
    users = spark.createDataFrame([(3,), (5,)], "user_id int")
    for b in range(2):
        before = scans.value
        fan_out(eng.get_top_ratings_for_users(users, k=3), b)
        assert scans.value - before == n_users, b
    assert written == got[0] == got[1] == [6, 6]
    eng.unpersist()


def test_flush_complete_sessions_batch_semantics(spark):
    rows = [
        (1, "m1", 100, 3), (1, "m2", 101, 4), (1, "m3", 102, 5),  # complete
        (2, "m1", 200, 2),                                        # incomplete
    ]
    df = spark.createDataFrame(rows, "userid int, slot string, song_id int, rating int")
    out = flush_complete_sessions(df).collect()
    assert {r["userid"] for r in out} == {1}
    assert len(out) == 3


def test_sentinel_sessions_stateful(spark, tmp_path):
    """X4 — applyInPandasWithState session flush on sentinel, via a
    memory-source stream fed both complete and incomplete sessions."""
    from spark_streaming_kafka_spark.streaming.sessions import (
        sentinel_sessions_stateful,
    )

    events = [
        (1, "m1", 100, 3), (1, "m2", 101, 4), (1, "m3", 102, 5),
        (2, "m1", 200, 2),
    ]
    src = spark.createDataFrame(events, "userid int, slot string, song_id int, rating int")
    # feed through a file stream for a real micro-batch
    data_dir = tmp_path / "events_in"
    src.coalesce(1).write.mode("overwrite").parquet(str(data_dir))
    stream = spark.readStream.schema(src.schema).parquet(str(data_dir))
    spark.sql("DROP TABLE IF EXISTS sessions_out")
    q = (
        sentinel_sessions_stateful(stream)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        rows = _await_rows(spark, "sessions_out", 3)
        assert {r["userid"] for r in rows} == {1}
        assert sorted(r["song_id"] for r in rows) == [100, 101, 102]
        assert all(r["session_size"] == 3 for r in rows)
    finally:
        q.stop()


def test_idempotent_parquet_sink_replay_safe(spark, tmp_path):
    """Replaying a micro-batch (same batch_id — the post-crash
    at-least-once case) must not duplicate rows; distinct batches
    accumulate as partitions."""
    from spark_streaming_kafka_spark.sources.sinks import idempotent_parquet_sink

    base = str(tmp_path / "out")
    sink = idempotent_parquet_sink(base)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    b1 = spark.createDataFrame([(3, "c")], "id int, v string")
    sink(b0, 0)
    sink(b1, 1)
    sink(b0, 0)  # replay of batch 0 after a simulated crash
    out = spark.read.parquet(base)
    assert out.count() == 3  # no duplicates from the replay
    assert {r["id"] for r in out.collect()} == {1, 2, 3}
    assert {r["_batch_id"] for r in out.select("_batch_id").distinct().collect()} == {0, 1}


def test_streaming_pii_scrub_stateless_parity(spark):
    """PII scrubbing is stateless column algebra, so the SAME pii_scrub
    expression drops into a readStream→writeStream pipeline unchanged —
    streaming/batch parity by construction, verified on a live
    micro-batch: every planted email is redacted in the sink."""
    from spark_streaming_kafka_spark.operators.curation import pii_scrub

    spark.sql("DROP TABLE IF EXISTS pii_out")
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .withColumn(
            "text",
            F.concat(
                F.lit("user"), F.col("value"), F.lit("@example.com said hi")
            ),
        )
    )
    q = (
        stream.select("value", pii_scrub(F.col("text")).alias("scrubbed"))
        .writeStream.format("memory")
        .queryName("pii_out")
        .outputMode("append")
        .start()
    )
    try:
        rows = _await_rows(spark, "pii_out", 3)
        assert all(r["scrubbed"] == "<EMAIL> said hi" for r in rows)
    finally:
        q.stop()


def test_progress_recorder_captures_batches(spark, tmp_path):
    """The listener records per-batch rows/durations from a live query,
    and the lag predicate reads them."""
    import time

    from spark_streaming_kafka_spark.streaming.monitor import (
        ProgressRecorder,
        falling_behind,
    )

    rec = ProgressRecorder(keep=16)
    spark.streams.addListener(rec)
    q = None
    try:
        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        )
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 seconds")
            .start()
        )
        deadline = time.time() + 30
        while time.time() < deadline and len(rec.batches()) < 2:
            time.sleep(0.5)
        assert len(rec.batches()) >= 2
        assert rec.total_input_rows() >= 0
        b = rec.batches()[-1]
        assert b["batch_id"] >= 0 and b["trigger_ms"] is not None
        # healthy 1s-trigger stream must not flag a 60s-interval check
        assert not falling_behind(rec, trigger_interval_ms=60_000, window=2)
        # and a run of batches always flags a 0ms interval
        assert falling_behind(rec, trigger_interval_ms=0, window=2)
    finally:
        if q is not None:
            q.stop()
        spark.streams.removeListener(rec)


def test_falling_behind_skips_unmeasured_batches():
    from spark_streaming_kafka_spark.streaming.monitor import (
        ProgressRecorder,
        falling_behind,
    )

    rec = ProgressRecorder()
    # 4 laggy measured batches with one unmeasured event interleaved:
    # the missing sample must not mask the lag
    for ms in (5000, 5000, None, 5000, 5000):
        rec.progress.append(
            {"query_id": "q", "batch_id": 0, "num_input_rows": 1,
             "trigger_ms": ms, "timestamp": ""}
        )
    assert falling_behind(rec, trigger_interval_ms=1000, window=4)
    assert not falling_behind(rec, trigger_interval_ms=1000, window=5)


def test_falling_behind_scoped_per_query():
    """Two concurrent streams share the session-wide recorder; a fast
    query's interleaved batches must not mask a laggy query's run of
    slow samples (and the laggy one must not flag the fast one)."""
    from spark_streaming_kafka_spark.streaming.monitor import (
        ProgressRecorder,
        falling_behind,
    )

    rec = ProgressRecorder()
    # interleave: slow query 5000ms batches, fast query 100ms batches
    for i in range(4):
        rec.progress.append(
            {"query_id": "slow", "batch_id": i, "num_input_rows": 1,
             "trigger_ms": 5000, "timestamp": ""}
        )
        rec.progress.append(
            {"query_id": "fast", "batch_id": i, "num_input_rows": 1,
             "trigger_ms": 100, "timestamp": ""}
        )
    # pooled view is ambiguous — the per-query views are decisive
    assert falling_behind(rec, 1000, window=4, query_id="slow")
    assert not falling_behind(rec, 1000, window=4, query_id="fast")
    # pooled (legacy) call would have been masked by the fast stream
    assert not falling_behind(rec, 1000, window=4)


def test_transition_stream_pairs_match_batch(spark, tmp_path):
    """r9 streaming twin parity: stateful transition extraction must
    reproduce the batch transition_pairs counts across TWO
    micro-batches — the cross-batch edge (a user's last event in batch
    1 pairing with their first in batch 2) comes from the state store."""
    import time as _time

    from spark_streaming_kafka_spark.operators.sessionize import transition_pairs
    from spark_streaming_kafka_spark.streaming.transitions import (
        transition_stream_pairs,
    )

    rows = [
        (1, 1, 1000, "view"), (2, 1, 2000, "click"), (3, 2, 1500, "view"),
        # batch 2: u1 continues (cross-batch edge click->purchase),
        # u2 continues (view->view), u3 appears fresh
        (4, 1, 3000, "purchase"), (5, 2, 2500, "view"), (6, 3, 1000, "view"),
        (7, 3, 1100, "click"),
    ]
    schema = "event_id long, user_id long, ts_ms long, event_type string"
    full = spark.createDataFrame(rows, schema)

    batch_form = full.withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    )
    expected = sorted(
        (r["user_id"], r["prev_state"], r["next_state"])
        for r in transition_pairs(batch_form).collect()
    )

    data_dir = tmp_path / "trans_in"
    spark.createDataFrame(rows[:3], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(data_dir))
    _time.sleep(1.1)
    spark.createDataFrame(rows[3:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(data_dir))

    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data_dir))
    )
    spark.sql("DROP TABLE IF EXISTS trans_out")
    # Poll the sink, do NOT processAllAvailable/availableNow: with
    # ProcessingTimeTimeout the engine runs continuous "cleaning up
    # state" zero-row batches after the data drains (observed ~2/s,
    # batchId 100+ within a minute), and both drain calls race that
    # loop's termination condition — the _await_rows pattern is how
    # every ProcessingTimeTimeout test in this file settles.
    q = (
        transition_stream_pairs(stream)
        .writeStream.format("memory")
        .queryName("trans_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "trans_ckpt"))
        .start()
    )
    try:
        rows_out = _await_rows(spark, "trans_out", len(expected), timeout=60.0)
        got = sorted(
            (r["user_id"], r["prev_state"], r["next_state"]) for r in rows_out
        )
    finally:
        q.stop()
    assert got == expected
    # the cross-batch edge specifically
    assert (1, "click", "purchase") in got
