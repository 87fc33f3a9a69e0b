"""Per-query profile of registry queries: where each query's wall clock,
executor time and shuffle bytes actually go.

Usage: python tools/stage_profile.py [QUERY ...] [OUT.md] [sf_dir]

Queries default to the bench HEADLINE suite; an argument ending in
``.md`` names a markdown file to write the per-query table to; an
existing directory is the SF dir (default ``bench.SF_DIR``).

Runs ``bench.measure`` with one measured pass: the warm pass pays
codegen/JIT, then each query's measured run records
- **build** — driver-side plan construction (py4j/Python, before any job);
- **exec** — the action's wall clock (stages + scheduling + AQE
  re-planning);
- per stage, from the Spark UI REST API delta over the run: executor
  run time (summed across tasks — divide by cores for a wall-clock
  floor), task count, shuffle read/write volume and input bytes.

This is how the repo's perf work is grounded: a query that is "slow"
from scheduling floor (many small barrier stages) profiles completely
differently from one with a hot compute stage, and the fix differs
accordingly — Catalyst/plan changes for the former,
expression/vectorization work for the latter.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    from spark_streaming_kafka_spark import get_spark
    from spark_streaming_kafka_spark.queries import QUERIES

    names, out_md, sf_dir = [], None, bench.SF_DIR
    for a in sys.argv[1:]:
        if a.endswith(".md"):
            out_md = a
        elif os.path.isdir(a):
            sf_dir = a
        else:
            names.append(a)
    names = names or list(bench.HEADLINE)

    spark = get_spark("stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))[0]["id"]

    def stages() -> list[dict]:
        return json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete"
            )
        )

    #: name -> (build s, exec s, the run's stages); the measured run
    #: overwrites the warm one
    prof: dict[str, tuple[float, float, list[dict]]] = {}

    def run(name: str) -> None:
        before = {s["stageId"] for s in stages()}
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        rows = [s for s in stages() if s["stageId"] not in before]
        prof[name] = (t1 - t0, t2 - t1, sorted(rows, key=lambda s: s["stageId"]))

    bench.measure(spark, names, passes=1, run=run)

    cores = spark.sparkContext.defaultParallelism
    cpu: dict[str, float] = {}
    for name in names:
        build, execu, rows = prof[name]
        print(
            f"{name}: wall {build + execu:.3f}s (build {build:.3f} exec "
            f"{execu:.3f}) over {len(rows)} stages ({cores} cores)"
        )
        print(
            f"{'stage':>5} {'tasks':>5} {'cpu_s':>8} {'cpu/core':>8} "
            f"{'shuf_r':>9} {'shuf_w':>9} {'input':>10}"
        )
        tot_cpu = 0.0
        for s in rows:
            c = s.get("executorRunTime", 0) / 1000.0
            tot_cpu += c
            print(
                f"{s['stageId']:>5} {s['numCompleteTasks']:>5} {c:>8.2f} "
                f"{c / cores:>8.3f} "
                f"{s.get('shuffleReadBytes', 0):>9} "
                f"{s.get('shuffleWriteBytes', 0):>9} "
                f"{s.get('inputBytes', 0):>10}"
            )
        cpu[name] = tot_cpu
        barrier_floor = len(rows) * 0.25
        print(
            f"total cpu {tot_cpu:.2f}s (= {tot_cpu / cores:.3f}s/core); "
            f"~{barrier_floor:.1f}s stage-barrier floor at 0.25s/stage"
        )
        print(
            "diagnosis:",
            "compute-bound (fix expressions/vectorization)"
            if tot_cpu / cores > barrier_floor
            else "barrier-bound (fix plan shape / stage count; amortizes at scale)",
        )

    if out_md:
        lines = [
            "# Per-query profile (generated by tools/stage_profile.py)",
            "",
            f"sf_dir `{sf_dir}`, {spark.sparkContext.master},"
            " one warm-up pass then one measured run per query.",
            "",
            "- **build** = driver-side plan construction (py4j/Python, before any job)",
            "- **exec** = action wall clock (stages + scheduling + AQE re-planning)",
            f"- **cpu** = total executor run time across the run's stages (÷{cores} for the",
            "  perfectly-parallel wall-clock floor)",
            "",
            f"| query | build s | exec s | executor cpu s | cpu/{cores} s |",
            "|---|---|---|---|---|",
        ]
        for name in names:
            b, e, _ = prof[name]
            lines.append(
                f"| {name} | {b:.3f} | {e:.3f} | {cpu[name]:.2f} | {cpu[name] / cores:.3f} |"
            )
        lines += [
            f"| **total** | **{sum(prof[n][0] for n in names):.2f}** | "
            f"**{sum(prof[n][1] for n in names):.2f}** | "
            f"**{sum(cpu.values()):.1f}** | — |",
            "",
            f"Reading: a query whose exec ≫ cpu/{cores} is stage-floor-bound (plan",
            f"shape / wave count — amortizes at scale); one whose exec ≈ cpu/{cores}",
            "is compute-bound (expression/vectorization work would pay off).",
            "Single measured run: treat ±20% per-cell as noise; the committed",
            "bench artifacts remain the cross-round comparison basis.",
            "",
        ]
        with open(out_md, "w") as f:
            f.write("\n".join(lines))
        print(f"wrote {out_md}")
    spark.stop()


if __name__ == "__main__":
    main()
