"""perfbench entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the package in this checkout on ``local[4]``
and prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics
with ``--trace 1``. The line before it is a report: the workload's own
named metrics (README.md), the CPU probe, output checks, warm-up trends
and, when traced, the full per-layer table. Exit status is 0 only when every output check passed.

``headline_curation`` runs stream_curation and then batch_headline in one
session, as one workload (README.md, "Budget").

``--workload all`` runs every workload (recommend_backlog included) in
child processes and prints every named end-to-end metric with setup_s; with
``--trace 1`` it also runs each traced and prints the tracing overhead.
See README.md for workloads, metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules, then the checkout root (the package, bench.py)
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import harness  # noqa: E402

WORKLOADS = ("recommend_live", "recommend_backlog", "batch_headline", "stream_curation")

#: Workloads that run others one after another in one session; their
#: operations, set-up and work add up (README.md, "Budget").
COMBINED = {"headline_curation": ("stream_curation", "batch_headline")}

#: Gated end-to-end metrics, common to every workload (README.md).
END_TO_END = {
    "setup_s": "s",
    "retained_heap_mb": "MB",
    "op_mean_s": "s",
    "work_s": "s",
}

#: The issue's end-to-end metrics, by name: peak_rss_mb on every
#: workload, the rest on the workloads README.md names.
NAMED = {
    "peak_rss_mb": "MB",
    "rec_latency_p50_s": "s", "rec_latency_p90_s": "s",
    "backlog_events_per_s": "1/s", "cycle_p50_s": "s", "cycle_p90_s": "s",
    "headline_s": "s", "relational_s": "s", "pyudf_s": "s",
    "manifest_dedup_s": "s", "sessionization_s": "s", "drift_gate_s": "s",
}


#: Per-layer metrics every workload exercises: the result line of a
#: traced run carries these; the report line carries the full table of
#: ``per_layer_units`` (zero where a workload does not reach a layer).
PER_LAYER = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "traced.setup_s", "traced.retained_heap_mb", "traced.op_mean_s",
    "traced.work_s",
)


def per_layer_units() -> dict[str, str]:
    import headline

    units = {f"stream.{p}_ms": "ms" for p in harness.StreamRecorder.PHASES}
    units.update({
        "stream.batches": "count", "stream.input_rows": "count",
        "stream.state_rows_max": "count", "stream.state_memory_mb": "MB",
        "generator.late_ms_max": "ms",
        "recommend_stream.process_batch_p50_s": "s",
        "recommend_stream.process_batch_p90_s": "s",
        "recommend_stream.process_batch_self_s": "s",
        "recommend_stream.cycle_q1_s": "s", "recommend_stream.cycle_q4_s": "s",
        "recommend.retrain_s": "s", "recommend.retrains": "count",
        "recommend.add_ratings_s": "s", "recommend.checkpoints": "count",
        "recommend.get_top_ratings_for_users_s": "s", "recommend.sink_s": "s",
        "recommend.history_rows": "count", "recommend.history_partitions": "count",
        "recommend.users_served": "count", "recommend.recs_rows": "count",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.jvm_gc_s": "s", "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
        "spark.python_worker_init_s": "s", "spark.python_worker_run_s": "s",
    })
    units.update({f"queries.{q}_s": "s" for q in headline.HEADLINE})
    units.update({
        "queries.build_s": "s", "queries.exec_s": "s",
        "manifest_dedup.batch_p50_s": "s", "manifest_dedup.manifest_mb": "MB",
        "drift.reports": "count",
    })
    units.update({f"traced.{k}": u for k, u in {**END_TO_END, **NAMED}.items()})
    return units


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    try:
        import spark_streaming_kafka_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: package not importable from {harness.ROOT}: {exc}",
              file=sys.stderr)
        return 3
    os.environ["TZ"] = "UTC"
    time.tzset()
    probe = harness.cpu_probe()
    ticks0 = harness.cpu_ticks()
    work = harness.Workdir()
    try:
        spark = harness.start_spark(work, f"perfbench-{name}")
        tracer = harness.Tracer(trace)
        recorder = harness.StreamRecorder(spark)
        res = _combine([_run_one(part, spark, work, seed, seconds, tracer, recorder)
                        for part in COMBINED.get(name, (name,))])
        res["named"]["peak_rss_mb"] = harness.peak_rss_mb(spark)
        values = {
            "setup_s": res["setup_s"],
            "retained_heap_mb": harness.retained_heap_mb(spark),
            "op_mean_s": res["op_mean_s"],
            "work_s": res["work_s"],
        }
        report = {
            "workload": name, "seed": seed, "seconds": seconds,
            "trace": int(trace), "probe": probe,
            "peak_heap_mb": harness.peak_heap_mb(spark),
            "named": {k: {"value": v, "unit": NAMED[k]} for k, v in res["named"].items()},
            **res["report"],
        }
        steal, total = (b - a for a, b in zip(ticks0, harness.cpu_ticks()))
        # CPU taken by the hypervisor during the run: the noise floor
        probe["steal_share"] = round(steal / max(total, 1), 4)
        if trace:
            layers = _layer_metrics(spark, tracer, recorder, res, values, name, seed)
            report["layers"] = layers
            metrics = {k: layers[k] for k in PER_LAYER}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    finally:
        harness.stop_spark()
        work.close()
    print("perfbench-report " + json.dumps(report, default=float))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0 if res["correct"] and res["failed"] == 0 else 1


def _run_one(name, spark, work, seed, seconds, tracer, recorder) -> dict:
    if name in ("recommend_live", "recommend_backlog"):
        import recommend

        return recommend.run(spark, work, seed, seconds, tracer,
                             live=name == "recommend_live")
    if name == "batch_headline":
        import headline

        return headline.run(spark, seed, seconds, tracer)
    import curation

    return curation.run(spark, work, seed, seconds, tracer, recorder)


def _combine(parts: list[dict]) -> dict:
    """One result from workloads run one after another: counts, set-up
    and work add up; the operation quantiles are taken over every
    operation of every part."""
    if len(parts) == 1:
        return parts[0]
    ops = [t for p in parts for t in p["ops"]]
    keeps = [p["keep_group"] for p in parts]
    merged = {
        "attempted": sum(p["attempted"] for p in parts),
        "failed": sum(p["failed"] for p in parts),
        "correct": all(p["correct"] for p in parts),
        "setup_s": sum(p["setup_s"] for p in parts),
        "op_mean_s": sum(ops) / len(ops),
        "work_s": sum(p["work_s"] for p in parts),
        "ops": ops,
        "run_ids": set().union(*(p.get("run_ids", ()) for p in parts)),
        "keep_group": lambda g: any(keep(g) for keep in keeps),
    }
    for key in ("named", "report", "layers"):
        merged[key] = {k: v for p in parts for k, v in p.get(key, {}).items()}
    return merged


def _layer_metrics(spark, tracer, recorder, res, values, name, seed) -> dict:
    units = per_layer_units()
    out = dict.fromkeys(units, 0.0)
    out.update(harness.stream_layer_metrics(recorder.batches(res.get("run_ids", ()))))
    groups = harness.SparkMetrics(spark).collect()
    keep = res["keep_group"]
    out.update(harness.SparkMetrics.total(groups, keep))
    out.update(res.get("layers", {}))
    for k, v in {**values, **res["named"]}.items():
        out[f"traced.{k}"] = v
    tracer.dump(os.path.join(harness.STATE_DIR, f"trace-{name}-{seed}.json"))
    with open(os.path.join(harness.STATE_DIR, f"spark-groups-{name}-{seed}.json"), "w") as f:
        json.dump({g: a for g, a in groups.items() if keep(g)}, f, indent=1)
    unknown = set(out) - set(units)
    if unknown:
        raise KeyError(f"per-layer metrics missing from the list: {sorted(unknown)}")
    return {k: {"value": float(v), "unit": units[k]} for k, v in out.items()}


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload in its own process; prints all named metrics."""
    named, counts, overhead, ok = {}, {}, {}, True
    for w in WORKLOADS:
        for t in ((0, 1) if trace else (0,)):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(t)],
                capture_output=True, text=True, cwd=harness.ROOT)
            lines = p.stdout.strip().splitlines()
            if p.returncode not in (0, 1) or len(lines) < 2:
                print(f"{w} trace={t} failed (exit {p.returncode}):\n{p.stderr[-3000:]}",
                      file=sys.stderr)
                return 2
            report = json.loads(lines[-2].split(" ", 1)[1])
            result = json.loads(lines[-1])
            ok &= p.returncode == 0
            if t == 0:
                named[w] = {**report["named"], "setup_s": result["metrics"]["setup_s"]}
                counts[w] = {k: result[k] for k in ("correct", "attempted", "failed")}
            else:
                m = report["layers"]
                overhead[w] = {
                    k: m[f"traced.{k}"]["value"] - v["value"]
                    for k, v in named[w].items()
                }
    for w in WORKLOADS:
        print(f"{w}: {counts[w]}")
        for k, v in named[w].items():
            line = f"  {k} = {v['value']:.4f} {v['unit']}"
            if w in overhead:
                line += f"  (tracing overhead {overhead[w][k]:+.4f})"
            print(line)
    print(json.dumps({"correct": ok, "named": named, "counts": counts,
                      "tracing_overhead": overhead}))
    return 0 if ok else 1


def _terminated(signum, frame):
    # SIGTERM unwinds like an error, so the session is stopped, every
    # process under this one ends and the work dir is removed
    sys.exit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminated)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + tuple(COMBINED) + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))
    return run_workload(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
