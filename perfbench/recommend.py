"""recommend_live / recommend_backlog: the paper's rating -> recommendation
loop, driven through the package's public entry points.

file source (Kafka-shaped rows) -> ``sources.kafka.parse_kafka_json`` ->
``StreamingRecommender(retrain_every, top_k=25).process_batch`` in
``foreachBatch`` -> ``to_kafka_records`` -> parquet sink.

- live: open loop. One generator thread writes a file every ``TICK``
  seconds at ``RATE`` events/s (half the backlog capacity); the query
  runs on a 1 s trigger.
  Latency runs from each event's due time to the moment its batch's
  recommendations are written; retrain every 5 batches.
- backlog: closed loop. A fixed backlog is staged up front and drained
  with ``maxFilesPerTrigger=1`` + ``availableNow``; the model is trained
  in set-up and never retrained.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import nullcontext

import numpy as np

import generator
from harness import Tracer, job_group, median, quantile

TOP_K = 25
MIN_RATINGS = 25
#: live: events offered per second, half the loop's closed-loop capacity:
#: recommend_backlog drained 421, 486 and 453 events/s (seeds 1-3, median
#: 453) on a 4-vCPU Xeon VM, so the open loop runs at 50% load.
RATE = 224.0
TICK = 0.25           # live: seconds between generator files
BACKLOG_FILES = 8     # backlog: files staged (one micro-batch each)
BACKLOG_PER_FILE = 2000


def _build_engine(spark, hist):
    """The workload's set-up: engine over the history, rating counts
    materialized, ALS trained."""
    from spark_streaming_kafka_spark.recommend import RecommendationEngine

    eng = RecommendationEngine(spark, hist, min_ratings=MIN_RATINGS)
    eng.ratings.count()
    eng.rating_counts.count()
    eng.retrain()
    return eng


def _is_checkpointed(df) -> bool:
    return df._jdf.queryExecution().logical().getClass().getSimpleName() == "LogicalRDD"


def run(spark, work, seed: int, seconds: float, tracer: Tracer,
        live: bool) -> dict:
    from pyspark.sql import functions as F

    from spark_streaming_kafka_spark.schemas import RATING_EVENT_A
    from spark_streaming_kafka_spark.sources.kafka import (
        parse_kafka_json,
        to_kafka_records,
    )
    from spark_streaming_kafka_spark.streaming.recommend_stream import (
        StreamingRecommender,
    )

    data = generator.RatingData(seed)
    hist = spark.createDataFrame(data.history_pandas(),
                                 "user_id int, song_id int, rating double")
    n_hist = len(data.hist_users)

    # set-up, timed on its own: engine over the history, ALS trained
    t0 = time.perf_counter()
    eng = _build_engine(spark, hist)
    setup_s = time.perf_counter() - t0

    src, out = work.sub("events"), work.sub("recs")
    if live:
        gen = generator.LiveWriter(data, src, RATE, TICK, seconds)
    else:
        files = generator.stage_backlog(data, src, BACKLOG_FILES, BACKLOG_PER_FILE)

    checkpoints = []

    def sink(recs, batch_id):
        (to_kafka_records(recs, F.col("user_id"),
                          ["user_id", "song_id", "predicted_rating", "num_ratings"])
         .write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}")))

    sr = StreamingRecommender(
        eng, retrain_every=5 if live else 10**9, top_k=TOP_K,
        sink=tracer.wrap(sink, "sink"),
    )
    if tracer.enabled:
        add = tracer.wrap(eng.add_ratings, "add_ratings")

        def add_ratings(*a, **kw):
            add(*a, **kw)
            checkpoints.append(_is_checkpointed(eng.ratings))

        eng.add_ratings = add_ratings
        eng.retrain = tracer.wrap(eng.retrain, "retrain")
        eng.get_top_ratings_for_users = tracer.wrap(
            eng.get_top_ratings_for_users, "get_top_ratings_for_users")

    done: dict[int, tuple[float, float]] = {}

    def body(batch_df, batch_id):
        group = f"batch-{batch_id}"
        with job_group(spark, group) if tracer.enabled else nullcontext(), \
                tracer.span("process_batch", trace_id=batch_id, group=group):
            t0 = time.perf_counter()
            served = sr.process_batch(batch_df, batch_id)
            cycle = time.perf_counter() - t0
        if served is not None:
            done[batch_id] = (time.time(), cycle)

    raw = spark.readStream.schema(generator.EVENT_SCHEMA)
    if not live:
        raw = raw.option("maxFilesPerTrigger", 1)
    parsed = parse_kafka_json(raw.parquet(src), RATING_EVENT_A).select(
        F.col("userid").alias("user_id"), F.col("songid").alias("song_id"), "rating")
    ckpt = work.sub("checkpoint")
    writer = parsed.writeStream.foreachBatch(body).option("checkpointLocation", ckpt)
    writer = (writer.trigger(processingTime="1 second") if live
              else writer.trigger(availableNow=True))

    t_start = time.perf_counter()
    q = writer.start()
    run_id = str(q.runId)
    try:
        if live:
            gen.start_at(time.time())
            gen.join()
            if gen.error is not None:
                raise gen.error
            files = gen.files
            drained = _wait_served(ckpt, files, done, 90)
        else:
            drained = q.awaitTermination(150)
        elapsed = time.perf_counter() - t_start
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"recommend stream failed: {q.exception()}")

    checks = _check(eng, data, n_hist, files, ckpt, out, done)
    checks["drained"] = bool(drained)

    cycles = [done[b][1] for b in sorted(done)]
    quarter = max(1, len(cycles) // 4)
    file_batch = checks.pop("file_batch")
    lat = []  # live only: the backlog's files are all due at staging
    for name, f in files.items() if live else ():
        b = file_batch.get(name)
        if b is not None and b in done:
            lat.extend([done[b][0] - f["due"]] * len(f["users"]))
    n_events = sum(len(f["users"]) for f in files.values())
    named = {}
    if live:
        named["rec_latency_p50_s"] = median(lat)
        named["rec_latency_p90_s"] = quantile(lat, 0.9)
    else:
        named["backlog_events_per_s"] = n_events / elapsed
    named["cycle_p50_s"] = median(cycles)
    named["cycle_p90_s"] = quantile(cycles, 0.9)

    result = {
        "attempted": len(done),
        "failed": checks.pop("failed_batches"),
        "correct": all(v for v in checks.values() if isinstance(v, bool)),
        "setup_s": setup_s,
        # an operation: one event's latency (live), one cycle (backlog)
        "op_mean_s": float(np.mean(lat if live else cycles)),
        # live: busy time over the run's fixed events (stable whether
        # they arrive in five batches or six); backlog: drain wall time
        "work_s": sum(cycles) if live else elapsed,
        "named": named,
        "run_ids": {run_id},
        "keep_group": lambda g: g.startswith("batch-") or g == run_id,
        "report": {
            "checks": checks,
            "latency_samples": len(lat),
            "events": n_events,
            "batches": len(done),
            "cycles_s": [round(c, 3) for c in cycles],
            "cycle_first_quarter_s": float(np.mean(cycles[:quarter])) if cycles else 0.0,
            "cycle_last_quarter_s": float(np.mean(cycles[-quarter:])) if cycles else 0.0,
            "history_partitions_end": eng.ratings.rdd.getNumPartitions(),
        },
    }
    if live:
        result["report"]["generator_late_ms_max"] = 1e3 * max(gen.late_s, default=0.0)
    if tracer.enabled:
        result["layers"] = _layers(tracer, checks, checkpoints, result["report"])
    return result


def _wait_served(ckpt: str, files: dict, done: dict, timeout: float) -> bool:
    """Wait until every generated file sits in a micro-batch whose
    recommendations were written. (Source input-row counts cannot be
    used: a ``foreachBatch`` body that reads its batch several times
    inflates ``numInputRows``.)"""
    deadline = time.time() + timeout
    while time.time() < deadline:
        fb = _source_batches(ckpt)
        if all(fb.get(n) in done for n in files):
            return True
        time.sleep(0.1)
    return False


def _source_batches(ckpt: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's metadata log."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    try:  # the log may be mid-write while the query runs
                        e = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _read_recs(out: str, batch_id: int):
    """(users, songs, predicted, num_ratings) in file order."""
    import pyarrow.parquet as pq

    us, ss, ps, ns = [], [], [], []
    for path in sorted(glob.glob(os.path.join(out, f"batch={batch_id}", "*.parquet"))):
        for v in pq.read_table(path, columns=["value"]).column("value").to_pylist():
            r = json.loads(v)
            us.append(r["user_id"])
            ss.append(r["song_id"])
            ps.append(r["predicted_rating"])
            ns.append(r["num_ratings"])
    return (np.array(us, np.int64), np.array(ss, np.int64),
            np.array(ps, np.float64), np.array(ns, np.int64))


def _check(eng, data, n_hist, files, ckpt, out, done) -> dict:
    """Output checks, run after the stream stops (outside timing)."""
    file_batch = _source_batches(ckpt)
    by_batch: dict[int, list[str]] = {}
    for name, b in file_batch.items():
        by_batch.setdefault(b, []).append(name)
    rated = set((data.hist_users.astype(np.int64) * 1000 + data.hist_songs).tolist())
    counts = np.bincount(data.hist_songs, minlength=generator.N_SONGS).astype(np.int64)
    failed = 0
    streamed = 0
    served_users = 0
    recs_rows = 0
    for b in sorted(done):
        for name in by_batch.get(b, []):
            f = files[name]
            rated.update((f["users"].astype(np.int64) * 1000 + f["songs"]).tolist())
            np.add.at(counts, f["songs"], 1)
            streamed += len(f["users"])
        u, s, p, n = _read_recs(out, b)
        recs_rows += len(u)
        ok = True
        if len(u):
            _, per_user = np.unique(u, return_counts=True)
            served_users += len(per_user)
            ok &= bool(per_user.max() <= TOP_K)
            ok &= not any(x in rated for x in (u * 1000 + s).tolist())
            ok &= bool((counts[s] >= MIN_RATINGS).all() and (counts[s] == n).all())
            same = u[1:] == u[:-1]
            ordered = (p[:-1] > p[1:]) | ((p[:-1] == p[1:]) & (s[:-1] < s[1:]))
            ok &= bool(np.all(ordered | ~same))
            # each user's rows are contiguous in file order
            starts = np.flatnonzero(np.r_[True, ~same])
            ok &= len(np.unique(u[starts])) == len(starts)
        failed += not ok
    history_rows = eng.ratings.count()
    return {
        "file_batch": file_batch,
        "failed_batches": failed,
        "all_files_served": set(file_batch) == set(files)
        and all(b in done for b in file_batch.values()),
        "history_rows_match": history_rows == n_hist + streamed,
        "history_rows": history_rows,
        "users_served": served_users,
        "recs_rows": recs_rows,
    }


def _layers(tracer, checks, checkpoints, report) -> dict:
    pb, pb_self = tracer.totals("process_batch")
    _, add_self = tracer.totals("add_ratings")
    retrain_d, _ = tracer.totals("retrain")
    top_d, _ = tracer.totals("get_top_ratings_for_users")
    sink_d, _ = tracer.totals("sink")
    return {
        "recommend_stream.process_batch_p50_s": median(pb),
        "recommend_stream.process_batch_p90_s": quantile(pb, 0.9),
        "recommend_stream.process_batch_self_s": sum(pb_self),
        "recommend_stream.cycle_q1_s": report["cycle_first_quarter_s"],
        "recommend_stream.cycle_q4_s": report["cycle_last_quarter_s"],
        "recommend.retrain_s": sum(retrain_d),
        "recommend.retrains": float(len(retrain_d)),
        "recommend.add_ratings_s": sum(add_self),
        "recommend.checkpoints": float(sum(checkpoints)),
        "recommend.get_top_ratings_for_users_s": sum(top_d),
        "recommend.sink_s": sum(sink_d),
        "recommend.history_rows": float(checks["history_rows"]),
        "recommend.history_partitions": float(report["history_partitions_end"]),
        "recommend.users_served": float(checks["users_served"]),
        "recommend.recs_rows": float(checks["recs_rows"]),
        "generator.late_ms_max": report.get("generator_late_ms_max", 0.0),
    }
