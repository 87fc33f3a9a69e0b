"""Per-query profile of registry queries: where each query's wall clock,
executor time and shuffle bytes actually go.

Usage: python tools/stage_profile.py [QUERY ...] [OUT.md] [sf_dir]

Queries default to the bench HEADLINE suite; an argument ending in
``.md`` names a markdown file to write the per-query table to; an
existing directory is the SF dir (default ``bench.SF_DIR``).

Runs ``bench.measure`` with one measured pass: the warm pass pays
codegen/JIT, then each query's measured run records
- **build** — the wall clock of building the DataFrame: driver-side
  plan construction, plus any Spark jobs the build itself runs (an
  iterative query such as ``dedup_clusters`` runs its component loop
  while it builds);
- **build_stages** — the stages those build-time jobs ran (found by
  their own job group) and their executor time, listed apart from the
  action's;
- **exec** — the action's wall clock (stages + scheduling + AQE
  re-planning);
- per stage, from the Spark UI REST API delta over the run: the phase
  (build or exec), executor run time (summed across tasks — divide by
  cores for a wall-clock floor), task count, shuffle read/write volume
  and input bytes.

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

    def rest(path: str) -> list[dict]:
        return json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}"))

    sc = spark.sparkContext
    #: name -> (build s, exec s, build-time stages, action stages); the
    #: measured run overwrites the warm one
    prof: dict[str, tuple[float, float, list[dict], list[dict]]] = {}

    def run(name: str) -> None:
        before = {s["stageId"] for s in rest("stages?status=complete")}
        group = f"stage-profile-build-{name}"
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
        finally:
            sc.setJobGroup(None, None)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        built = {i for j in rest("jobs") if j.get("jobGroup") == group for i in j["stageIds"]}
        rows = sorted(
            (s for s in rest("stages?status=complete") if s["stageId"] not in before),
            key=lambda s: s["stageId"],
        )
        prof[name] = (
            t1 - t0,
            t2 - t1,
            [s for s in rows if s["stageId"] in built],
            [s for s in rows if s["stageId"] not in built],
        )

    bench.measure(spark, names, passes=1, run=run)

    cores = sc.defaultParallelism
    for name in names:
        build, execu, built, ran = prof[name]
        print(
            f"{name}: wall {build + execu:.3f}s (build {build:.3f} exec "
            f"{execu:.3f}) over {len(built) + len(ran)} stages ({cores} cores); "
            f"build_stages {build_stages_cell(built)}"
        )
        print(
            f"{'stage':>5} {'phase':>5} {'tasks':>5} {'cpu_s':>8} {'cpu/core':>8} "
            f"{'shuf_r':>9} {'shuf_w':>9} {'input':>10}"
        )
        for phase, group_rows in (("build", built), ("exec", ran)):
            for s in group_rows:
                c = s.get("executorRunTime", 0) / 1000.0
                print(
                    f"{s['stageId']:>5} {phase:>5} {s['numCompleteTasks']:>5} {c:>8.2f} "
                    f"{c / cores:>8.3f} "
                    f"{s.get('shuffleReadBytes', 0):>9} "
                    f"{s.get('shuffleWriteBytes', 0):>9} "
                    f"{s.get('inputBytes', 0):>10}"
                )
        tot_cpu = executor_s(built) + executor_s(ran)
        barrier_floor = (len(built) + len(ran)) * 0.25
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
        header = [
            "# Per-query profile (generated by tools/stage_profile.py)",
            "",
            f"sf_dir `{sf_dir}`, {sc.master},"
            " one warm-up pass then one measured run per query.",
            "",
        ]
        with open(out_md, "w") as f:
            f.write("\n".join(header + markdown_table(prof, names, cores)))
        print(f"wrote {out_md}")
    spark.stop()


def executor_s(stages: list[dict]) -> float:
    """Executor run time summed over REST stage rows, in seconds."""
    return sum(s.get("executorRunTime", 0) for s in stages) / 1000.0


def build_stages_cell(stages: list[dict]) -> str:
    """``"<n> (<executor s> s)"`` for the stages a query's build ran."""
    return f"{len(stages)} ({executor_s(stages):.2f} s)"


def markdown_table(
    prof: dict[str, tuple[float, float, list[dict], list[dict]]],
    names: list[str],
    cores: int,
) -> list[str]:
    """The per-query table and its legend, as markdown lines."""
    lines = [
        "- **build** = wall clock of building the DataFrame: driver-side plan",
        "  construction, plus any Spark jobs the build itself runs (iterative",
        "  queries)",
        "- **build_stages** = stages those build-time jobs ran, with their",
        "  executor run time; `0 (0.00 s)` means the build was job-free",
        "- **exec** = action wall clock (stages + scheduling + AQE re-planning)",
        "- **cpu** = total executor run time across the run's stages, build and",
        f"  action (÷{cores} for the perfectly-parallel wall-clock floor)",
        "",
        f"| query | build s | build_stages | exec s | executor cpu s | cpu/{cores} s |",
        "|---|---|---|---|---|---|",
    ]
    cpu = {n: executor_s(prof[n][2]) + executor_s(prof[n][3]) for n in names}
    for name in names:
        b, e, built, _ = prof[name]
        lines.append(
            f"| {name} | {b:.3f} | {build_stages_cell(built)} | {e:.3f} | "
            f"{cpu[name]:.2f} | {cpu[name] / cores:.3f} |"
        )
    lines += [
        f"| **total** | **{sum(prof[n][0] for n in names):.2f}** | "
        f"**{sum(len(prof[n][2]) for n in names)}** | "
        f"**{sum(prof[n][1] for n in names):.2f}** | "
        f"**{sum(cpu.values()):.1f}** | — |",
        "",
        f"Reading: a query whose exec ≫ cpu/{cores} is stage-floor-bound (plan",
        f"shape / wave count — amortizes at scale); one whose exec ≈ cpu/{cores}",
        "is compute-bound (expression/vectorization work would pay off).",
        "A build with stages is not plan construction alone: its jobs belong",
        "to the query's cost as much as the action's.",
        "Single measured run: treat ±20% per-cell as noise; the committed",
        "bench artifacts remain the cross-round comparison basis.",
        "",
    ]
    return lines


if __name__ == "__main__":
    main()
