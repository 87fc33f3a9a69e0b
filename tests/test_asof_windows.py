"""As-of join, band join, event-time windows (batch + streaming), IVF ANN."""

from __future__ import annotations

import datetime as dt
import time

import pyspark.sql.functions as F

from spark_streaming_kafka_spark.operators.asof import asof_join, band_join
from spark_streaming_kafka_spark.operators.timewindows import windowed_agg


def _ts(minute: int, second: int = 0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts(5), "l1"), (1, _ts(10), "l2"), (2, _ts(3), "l3")],
        "k int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 100.0), (1, _ts(7), 200.0), (2, _ts(4), 300.0)],
        "k int, ts timestamp, v double",
    )
    out = {
        r["tag"]: (r["m_ts"], r["m_v"])
        for r in asof_join(left, right, "k", prefix="m_").collect()
    }
    assert out["l1"] == (_ts(5), 100.0)  # equal ts matches (inclusive)
    assert out["l2"] == (_ts(7), 200.0)  # most recent prior, not first
    assert out["l3"] == (None, None)  # no right row at/before → left-join NULLs


def test_band_join_pairs_once_within_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(10))], "k int, lid int, lts timestamp"
    )
    right = spark.createDataFrame(
        [(1, 20, _ts(12)), (1, 21, _ts(16)), (1, 22, _ts(10))],
        "k int, rid int, rts timestamp",
    )
    out = band_join(left, right, "k", 300_000, left_ts="lts", right_ts="rts")
    rids = sorted(r["rid"] for r in out.collect())
    assert rids == [20, 22]  # ±5 min inclusive; 6-min row excluded, no dup pairs


def test_windowed_agg_epoch_alignment(spark):
    ev = spark.createDataFrame(
        [(_ts(0), 1.0), (_ts(59, 59), 2.0), (dt.datetime(2024, 1, 1, 1, 0), 4.0)],
        "ts timestamp, value double",
    )
    rows = windowed_agg(
        ev, "ts", "1 hour", [F.sum("value").alias("s")]
    ).collect()
    by_start = {r["window_start_ms"]: r["s"] for r in rows}
    h0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert by_start[h0] == 3.0 and by_start[h0 + 3_600_000] == 4.0


def test_sliding_window_double_counts(spark):
    ev = spark.createDataFrame([(_ts(40), 1.0)], "ts timestamp, value double")
    rows = windowed_agg(
        ev, "ts", "1 hour", [F.count(F.lit(1)).alias("n")], slide="30 minutes"
    ).collect()
    assert len(rows) == 2  # event belongs to exactly width/slide windows
    assert all(r["n"] == 1 for r in rows)


def test_connected_components_multi_hop(spark):
    from spark_streaming_kafka_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 round) + disjoint pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_gap_fill_hourly_zero_fills(spark):
    from spark_streaming_kafka_spark.operators.timewindows import gap_fill_hourly

    ev = spark.createDataFrame(
        [
            (7, dt.datetime(2024, 1, 1, 0, 10)),
            (7, dt.datetime(2024, 1, 1, 0, 50)),
            (7, dt.datetime(2024, 1, 1, 3, 5)),  # hours 1 and 2 are gaps
        ],
        "user_id long, ts timestamp",
    )
    rows = sorted(
        (r["hour_ms"], r["n_events"]) for r in gap_fill_hourly(ev).collect()
    )
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert rows == [
        (base, 2),
        (base + 3_600_000, 0),
        (base + 7_200_000, 0),
        (base + 10_800_000, 1),
    ]


def test_ivf_assign_no_shuffle_and_probe_recall(spark):
    from spark_streaming_kafka_spark.operators.similarity import ivf_assign, ivf_topk
    from spark_streaming_kafka_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    centroids = [
        (int(r[0]), list(r[1]))
        for r in emb.filter(F.col("vec_id") < 4).select("vec_id", "embedding").collect()
    ]
    assigned = ivf_assign(emb, centroids)
    # zero-shuffle assignment: no Exchange in the plan
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # every vector lands in a valid cell
    cells = {r["centroid_id"] for r in assigned.select("centroid_id").distinct().collect()}
    assert cells <= {0, 1, 2, 3}
    # self-query: each query's own cell contains it, so rank-1 neighbor
    # must share its cell and have the max cosine there
    top = ivf_topk(emb, n_centroids=4, nprobe=2, k=3, n_queries=2)
    rows = top.collect()
    assert {r["query_id"] for r in rows} == {0, 1}
    assert all(r["rank"] <= 3 for r in rows)


def test_streaming_checkpoint_restart_recovers_state(spark, tmp_path):
    """Stop a stateful streaming query mid-run and restart it from its
    checkpoint: the restored query must CONTINUE the aggregation (counts
    at least what the first run reached), not reset — the durability
    contract the reference's receiver-based DStreams never had."""
    from spark_streaming_kafka_spark.streaming.wordcount import streaming_word_count

    ckpt = str(tmp_path / "ckpt")

    def start():
        spark.sql("DROP TABLE IF EXISTS ckpt_out")
        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", "100").load()
            .withColumn("value", F.concat(F.lit("w"), (F.col("value") % 2).cast("string")))
        )
        return (
            streaming_word_count(stream, "value")
            .writeStream.format("memory")
            .queryName("ckpt_out")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def totals():
        return {r["word"]: r["count"] for r in spark.sql("SELECT * FROM ckpt_out").collect()}

    q = start()
    try:
        deadline = time.time() + 30
        t1 = {}
        while time.time() < deadline:
            t1 = totals()
            if sum(t1.values()) >= 100:
                break
            time.sleep(0.5)
        assert sum(t1.values()) >= 100
    finally:
        q.stop()

    q2 = start()
    try:
        deadline = time.time() + 30
        t2 = {}
        while time.time() < deadline:
            t2 = totals()
            if t2 and sum(t2.values()) >= sum(t1.values()):
                break
            time.sleep(0.5)
        # restored state: totals continue from (>=) the first run's
        assert sum(t2.values()) >= sum(t1.values())
        assert set(t2) >= set(t1)
    finally:
        q2.stop()


def test_stream_stream_time_bounded_join(spark):
    from spark_streaming_kafka_spark.streaming.joins import time_bounded_join

    spark.sql("DROP TABLE IF EXISTS ssj_out")
    base = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    clicks = base.select(
        (F.col("value") % 10).alias("k"),
        F.col("timestamp").alias("c_ts"),
        F.col("value").alias("c_val"),
    )
    views = base.select(
        (F.col("value") % 10).alias("k"),
        F.col("timestamp").alias("v_ts"),
        F.col("value").alias("v_val"),
    )
    joined = time_bounded_join(
        clicks, views, key="k", left_ts="c_ts", right_ts="v_ts",
        max_delay="5 seconds", watermark="0 seconds",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 40
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM ssj_out").collect()
            if len(rows) >= 5:
                break
            time.sleep(0.5)
        assert len(rows) >= 5
        for r in rows:
            assert r["c_val"] % 10 == r["v_val"] % 10 == r["k"]
            dt = (r["v_ts"] - r["c_ts"]).total_seconds()
            assert 0 <= dt <= 5
    finally:
        q.stop()


def test_temporal_join_plans_scale(spark):
    """Scale discipline for the temporal joins: no nested-loop join may
    appear (the naive theta-join formulation Spark would otherwise pick),
    and the corpus pipeline's scan must prune to the used columns."""
    from spark_streaming_kafka_spark.plans.inspect import (
        explain_str,
        scan_read_schema,
    )
    from spark_streaming_kafka_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    for q in ["asof_click_view", "band_join_click_error", "gap_fill_hourly"]:
        plan = explain_str(REGISTRY[q][0](spark, sf), "simple")
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "CartesianProduct" not in plan, q

    cols = set(scan_read_schema(REGISTRY["corpus_clean_pipeline"][0](spark, sf)))
    assert cols == {"doc_id", "text"}  # lang/source/n_chars pruned at scan


def test_band_join_zero_tolerance_rejected(spark):
    import pytest as _pytest

    from spark_streaming_kafka_spark.operators.asof import band_join

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "k long, ts string"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    with _pytest.raises(ValueError, match="positive"):
        band_join(df, df, "k", tolerance_ms=0)


def test_funnel_strict_ordering(spark):
    """A click BEFORE the first view must not convert; equal timestamps
    do not advance a stage (strictly-after semantics); users missing
    the first step are absent entirely."""
    import datetime as dt

    from spark_streaming_kafka_spark.operators.sessionize import funnel_stages

    def ts(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # u1: full funnel in order
        (1, "view", ts(1)), (1, "click", ts(2)), (1, "purchase", ts(3)),
        # u2: click precedes the first view -> click stage NULL
        (2, "click", ts(1)), (2, "view", ts(2)), (2, "purchase", ts(3)),
        # u3: click at the SAME instant as view -> not strictly after
        (3, "view", ts(5)), (3, "click", ts(5)),
        # u4: never viewed -> absent
        (4, "click", ts(1)), (4, "purchase", ts(2)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r["user_id"]: r for r in funnel_stages(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["click_ms"] and out[1]["purchase_ms"]
    assert out[2]["click_ms"] is None and out[2]["purchase_ms"] is None
    assert out[3]["click_ms"] is None


def test_inverted_index_caps_and_order(spark):
    from spark_streaming_kafka_spark.operators.curation import inverted_index

    rows = [(i, "common " + ("rare" if i == 7 else "x")) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["token"]: r for r in inverted_index(
        docs, min_df=2, max_postings=3).collect()}
    assert "rare" not in out                      # df=1 < min_df
    assert out["common"]["df"] == 10              # df is UNCAPPED
    assert out["common"]["postings"] == "0,1,2"   # lowest ids, capped
    assert out["x"]["df"] == 9 and out["x"]["postings"] == "0,1,2"


def test_debounce_keeps_burst_openers_only(spark):
    """r9: within a (user, type) burst (gaps <= gap_ms) only the first
    event survives; a gap > gap_ms opens a new burst; keys are
    independent; ts ties break on the tiebreak column."""
    from datetime import datetime, timedelta

    from spark_streaming_kafka_spark.operators.sessionize import (
        debounce_first_per_burst,
    )

    t0 = datetime(2024, 1, 1)
    ms = lambda x: t0 + timedelta(milliseconds=x)
    rows = [
        # u1/click: burst at 0,3s,6s (chained <=5s gaps) then 20s
        (1, 1, ms(0), "click"), (2, 1, ms(3000), "click"),
        (3, 1, ms(6000), "click"), (4, 1, ms(20000), "click"),
        # u1/view independent of clicks
        (5, 1, ms(1000), "view"),
        # u2: tie at identical ts — event_id 6 opens, 7 suppressed
        (6, 2, ms(0), "click"), (7, 2, ms(0), "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    kept = sorted(
        r["event_id"]
        for r in debounce_first_per_burst(
            df, ["user_id", "event_type"], gap_ms=5000
        ).collect()
    )
    # chained suppression: 3s and 6s are both inside the burst opened
    # at 0 (each gap <= 5s), 20s opens a new burst
    assert kept == [1, 4, 5, 6]
