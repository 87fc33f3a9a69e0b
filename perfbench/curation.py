"""stream_curation: bounded drains of seeded file sources through three
public streaming entry points — the write side of the streaming tier
(state stores and per-batch parquet manifests).

- ``manifest_dedup.incremental_dedup_sink``: documents with planted
  exact and near duplicates; kept rows go to a parquet sink.
- ``sessions.sentinel_sessions_stateful`` (``applyInPandasWithState``):
  rating events whose last file closes every user's session. Drained
  through the benchmark's listener (every progress event is kept), not
  by polling the bounded ``recentProgress`` ring.
- ``drift.drift_monitor_sink``: values drifting batch by batch, scored
  against a fixed binned reference.

Set-up (``setup_s``) generates the seeded inputs, builds the drift
reference and stages every drain's input files. The three drains are then
timed one after another, each from a cold start of its entry point, as a
bounded drain is launched: the first micro-batch of each carries that cost,
and the per-batch times in the report show the warm-up trend. Every drain
gets its own input, checkpoint, manifest and sink directories under the
run's work dir, which is removed at exit.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np

from harness import Tracer, job_group, median

FILES = {"manifest_dedup": 2, "sessionization": 1, "drift_gate": 2}
DOCS_PER_FILE = 150
EVENTS_PER_FILE = 2000
SESSION_USERS = 300
DRIFT_PER_FILE = 5000
CLOSER_SONG = 2_000_000_000
KINDS = tuple(FILES)


class Inputs:
    """Seeded per-file frames for the three drains; ``stage`` writes the
    first ``n`` files of one kind into a fresh source directory."""

    def __init__(self, seed: int) -> None:
        import pandas as pd

        rng = np.random.default_rng(seed)
        vocab = np.array([f"w{i}" for i in range(3000)])
        # documents: ~10% exact copies and ~5% near copies of earlier docs
        texts, self.exact_dups = [], set()
        n = FILES["manifest_dedup"] * DOCS_PER_FILE
        for i in range(n):
            r = rng.random()
            if i > 20 and r < 0.10:
                texts.append(texts[int(rng.integers(i))])
                self.exact_dups.add(i)
            elif i > 20 and r < 0.15:
                words = texts[int(rng.integers(i))].split()
                for j in rng.integers(len(words), size=2):
                    words[j] = vocab[rng.integers(len(vocab))]
                texts.append(" ".join(words))
            else:
                texts.append(" ".join(vocab[rng.zipf(1.3, rng.integers(40, 90)) % len(vocab)]))
        docs = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})
        self.files = {"manifest_dedup": [
            docs.iloc[b * DOCS_PER_FILE:(b + 1) * DOCS_PER_FILE]
            for b in range(FILES["manifest_dedup"])]}
        # sessions: ~1 in 5 events is the m3 sentinel
        self.files["sessionization"] = [pd.DataFrame({
            "userid": rng.integers(SESSION_USERS, size=EVENTS_PER_FILE).astype(np.int32),
            "slot": np.array(["m1", "m2", "m3", "m1", "m2"])[
                rng.integers(5, size=EVENTS_PER_FILE)],
            "song_id": rng.integers(100_000, size=EVENTS_PER_FILE).astype(np.int32),
            "rating": rng.integers(1, 6, size=EVENTS_PER_FILE).astype(np.int32),
        }) for _ in range(FILES["sessionization"])]
        # closes every user's session (max song id, so the per-user sort
        # keeps it last); staged after the data files of every drain
        self.closers = pd.DataFrame({
            "userid": np.arange(SESSION_USERS, dtype=np.int32), "slot": "m3",
            "song_id": np.int32(CLOSER_SONG), "rating": np.int32(1)})
        # drift: the value distribution shifts a little every batch
        t0 = np.datetime64("2024-01-01T00:00:00")

        def drift_frame(first, k, scale):
            return pd.DataFrame({
                "event_id": np.arange(first, first + k, dtype=np.int64),
                "ts": t0 + rng.integers(0, 86_400, k).astype("timedelta64[s]"),
                "value": rng.gamma(2.0, scale, k),
            })

        self.files["drift_gate"] = [
            drift_frame(b * DRIFT_PER_FILE, DRIFT_PER_FILE, 60.0 + 15 * b)
            for b in range(FILES["drift_gate"])]
        self.ref = drift_frame(0, 20_000, 60.0)

    def stage(self, d: str, kind: str, n: int) -> list:
        """Write the first ``n`` files of ``kind`` (plus the session
        closers) into ``d`` with ascending mtimes; return the frames."""
        frames = self.files[kind][:n]
        if kind == "sessionization":
            frames = frames + [self.closers]
        base = time.time() - 3600
        for i, pdf in enumerate(frames):
            path = os.path.join(d, f"part-{i:03d}.parquet")
            pdf.to_parquet(path, index=False, coerce_timestamps="us",
                           allow_truncated_timestamps=True)
            os.utime(path, (base + i, base + i))
        return frames


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p)) / 2**20


def run(spark, work, seed: int, seconds: float, tracer: Tracer, recorder) -> dict:
    from pyspark.sql import functions as F

    from spark_streaming_kafka_spark.streaming.drift import (
        drift_monitor_sink,
        reference_counts,
    )
    from spark_streaming_kafka_spark.streaming.manifest_dedup import (
        incremental_dedup_sink,
    )
    from spark_streaming_kafka_spark.streaming.sessions import (
        sentinel_sessions_stateful,
    )

    features = [
        ("value", F.floor(F.col("value") / 50.0).cast("long")),
        ("hour", F.hour("ts").cast("long")),
    ]
    t_setup = time.perf_counter()
    inp = Inputs(seed)
    ref = reference_counts(spark.createDataFrame(inp.ref), features)
    staged = {}
    for kind in KINDS:
        src = work.sub(kind, "in")
        staged[kind] = (work.sub(kind), src, inp.stage(src, kind, FILES[kind]))
    setup_s = time.perf_counter() - t_setup

    def traced(fn, group, span):
        """foreachBatch body that sets the drain's job group on the
        stream thread and records a span per batch (traced run only)."""
        if not tracer.enabled:
            return fn

        def body(df, batch_id):
            with job_group(spark, group), tracer.span(span, trace_id=batch_id):
                return fn(df, batch_id)

        return body

    def dedup(d, src, frames, kind):
        out = os.path.join(d, "kept")
        batch_s = []

        def on_kept(kept, batch_id):
            kept.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))

        sink = incremental_dedup_sink(spark, os.path.join(d, "hashes"),
                                      os.path.join(d, "sigs"), on_kept)

        def timed(df, batch_id):
            t0 = time.perf_counter()
            sink(df, batch_id)
            batch_s.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        q = (spark.readStream.schema("doc_id long, text string")
             .option("maxFilesPerTrigger", 1).parquet(src)
             .writeStream.foreachBatch(traced(timed, f"drain-{kind}", "dedup_batch"))
             .option("checkpointLocation", os.path.join(d, "ckpt"))
             .trigger(availableNow=True).start())
        ok = q.awaitTermination(120)
        q.stop()
        elapsed = time.perf_counter() - t0
        # checks: kept + dropped = input, no kept text twice, no planted
        # exact copy kept, the hash manifest grew by exactly the kept rows
        ids = set(np.concatenate([f["doc_id"].to_numpy() for f in frames]).tolist())
        kept = spark.read.parquet(out).select("doc_id", "text").toPandas()
        kept_ids = set(kept["doc_id"].tolist())
        dropped = ids - kept_ids
        hashes = spark.read.parquet(os.path.join(d, "hashes")).count()
        check = (ok and q.exception() is None
                 and len(kept) == len(kept_ids) == hashes
                 and kept_ids <= ids and len(kept_ids) + len(dropped) == len(ids)
                 and kept["text"].is_unique
                 and not kept_ids & inp.exact_dups)
        return q, elapsed, check, {
            "kept": len(kept_ids), "dropped": len(dropped),
            "manifest_mb": _dir_mb(os.path.join(d, "hashes")) + _dir_mb(os.path.join(d, "sigs")),
            "batch_s": batch_s}

    def sessions(d, src, frames, kind):
        rows = sum(len(f) for f in frames)
        t0 = time.perf_counter()
        parsed = (spark.readStream.schema("userid int, slot string, song_id int, rating int")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        # a stateful query with a processing-time timeout never reaches
        # availableNow's end: run on a 0 s trigger and stop once the
        # listener has seen every input row
        q = (sentinel_sessions_stateful(parsed).writeStream.format("noop")
             .option("checkpointLocation", os.path.join(d, "ckpt"))
             .trigger(processingTime="0 seconds").start())
        rid = str(q.runId)
        ok = recorder.wait_for(rid, lambda ps: sum(p["input_rows"] for p in ps) >= rows, 120)
        q.stop()
        elapsed = time.perf_counter() - t0
        # checks: every event is emitted in a closed session and no state
        # is left after the closing sentinels
        data = [p for p in recorder.batches({rid}) if p["input_rows"] > 0]
        out_rows = sum(p["output_rows"] for p in data)
        state_end = data[-1]["state_rows"] if data else -1
        check = ok and q.exception() is None and state_end == 0 and out_rows == rows
        return q, elapsed, check, {
            "output_rows": out_rows, "state_rows_end": state_end,
            "batch_s": [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in data]}

    def drift(d, src, frames, kind):
        reports, batch_s = [], []
        monitor = drift_monitor_sink(ref, features,
                                     on_report=lambda b, rows: reports.append((b, len(rows))))

        def sink(df, batch_id):
            t0 = time.perf_counter()
            monitor(df, batch_id)
            batch_s.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        q = (spark.readStream.schema("event_id long, ts timestamp, value double")
             .option("maxFilesPerTrigger", 1).parquet(src)
             .writeStream.foreachBatch(traced(sink, f"drain-{kind}", "drift_batch"))
             .option("checkpointLocation", os.path.join(d, "ckpt"))
             .trigger(availableNow=True).start())
        ok = q.awaitTermination(120)
        q.stop()
        elapsed = time.perf_counter() - t0
        # check: one report (one row per feature) per micro-batch
        check = (ok and q.exception() is None and len(reports) == len(frames)
                 and all(n == len(features) for _, n in reports))
        return q, elapsed, check, {"reports": len(reports), "batch_s": batch_s}

    drains = {"manifest_dedup": dedup, "sessionization": sessions, "drift_gate": drift}

    times, stats, run_ids, failed = {}, {}, set(), 0
    for kind in KINDS:
        with tracer.span("drain", trace_id=kind, group=f"drain-{kind}"):
            q, times[kind], ok, stats[kind] = drains[kind](*staged[kind], kind)
        failed += not ok
        run_ids.add(str(q.runId))
    ref.unpersist()

    every = list(times.values())
    result = {
        "attempted": len(KINDS),
        "failed": failed,
        "correct": failed == 0,
        "setup_s": setup_s,
        "op_mean_s": sum(every) / len(every),
        "work_s": sum(every),
        "ops": every,
        "named": {f"{k}_s": t for k, t in times.items()},
        "run_ids": run_ids,
        "keep_group": lambda g: g in run_ids or g in {f"drain-{k}" for k in KINDS},
        "report": {
            "drain_s": times,
            "drain_stats": stats,
        },
    }
    if tracer.enabled:
        result["layers"] = {
            "manifest_dedup.batch_p50_s": median(stats["manifest_dedup"]["batch_s"]),
            "manifest_dedup.manifest_mb": stats["manifest_dedup"]["manifest_mb"],
            "drift.reports": float(stats["drift_gate"]["reports"]),
        }
    return result
