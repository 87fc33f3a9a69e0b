"""Write docs/SCALING.md: per-query wall clock at sf0.001 / 0.01 / 0.1
and the implied scaling exponent — measured evidence for the question
the design docs argue qualitatively: what happens at 10× the data?

Method: bench.py's protocol (``bench.measure``) once per SF: one
unmeasured pass for codegen/JIT, then min-of-2 measured passes. For
each 10× SF step the exponent is log10(t_big / t_small):

- ≈ 0.0 — flat: the query sits at Spark's fixed per-job cost
  (scheduling, stage barriers); data volume is irrelevant at these SFs
  and a cluster amortizes the constant entirely.
- ≈ 1.0 — linear: scan/compute-bound, the healthy asymptote.
- > 1.0 sustained — superlinear: the plan has a term growing faster
  than the data (pair blowup, quadratic verify) — a scale bug.

Exponents over SMALL absolute times (< ~0.5 s) mostly measure the
constant, not the algorithm; the table reports absolute times so flat
rows are recognizable as floor-bound, and the exponent column uses the
LAST step (0.01 → 0.1), where real work dominates the floor for the
heavier queries.

Usage: python tools/scaling_curve.py [--full]  (default runs the bench
HEADLINE set; --full adds every other oracle-checked registry query)
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, measure, noop_run  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "SCALING.md")


def main() -> None:
    from spark_streaming_kafka_spark import get_spark
    from spark_streaming_kafka_spark.queries import QUERIES

    names = list(HEADLINE)
    # new scale-critical registry queries not in the (stable) bench set
    names += [
        "semantic_dedup_clusters_lsh",
        "substring_dup_spans",
        "substring_dedup_rewrite",
    ]
    if "--full" in sys.argv:
        names += [n for n in QUERIES if n not in names]

    spark = get_spark("scaling-curve")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, list[float]] = {n: [] for n in names}
    for sf in SFS:  # a warm pass per SF (codegen per plan shape)
        best = measure(spark, names, run=noop_run(spark, sf))
        for n in names:
            timings[n].append(round(best[n], 3))

    lines = [
        "# Scaling curves (generated by tools/scaling_curve.py)",
        "",
        "Wall clock per query at three scale factors (warm, min-of-2,",
        f"{spark.sparkContext.master}) and the implied exponent of the LAST 10× step",
        "(log10 of the time ratio). ~0 = fixed-cost floor (a cluster",
        "amortizes it); ~1 = linear in data; sustained >1 = scale bug.",
        "Queries under ~0.5 s are floor-dominated — their exponents",
        "measure scheduling, not algorithm.",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | exp(0.01→0.1) |",
        "|---|---|---|---|---|",
    ]
    worst: list[tuple[str, float]] = []
    for n, ts in timings.items():
        exp = math.log10(ts[2] / ts[1]) if ts[1] > 0 else float("nan")
        lines.append(f"| {n} | {ts[0]} | {ts[1]} | {ts[2]} | {exp:+.2f} |")
        if ts[2] >= 0.5:
            worst.append((n, exp))
    worst.sort(key=lambda x: -x[1])
    lines += [
        "",
        "Highest last-step exponents among queries with real sf0.1 work",
        "(≥ 0.5 s — the rows where the exponent is meaningful):",
        "",
    ]
    for n, e in worst[:8]:
        lines.append(f"- {n}: {e:+.2f}")
    lines += [
        "",
        "Standing notes on the recurring top rows (regenerated with the",
        "table so they survive refreshes):",
        "",
        "- `fuzzy_part_names` is registered on Pass-Join segment",
        "  signatures (linear candidate generation), but its TRUE OUTPUT",
        "  is quadratic on this testdata: part names draw 5 words from a",
        "  ~90-word vocabulary, so ~2.75% of all in-block pairs are",
        "  genuine ≤2-edit matches (2,112 pairs at sf0.01 → 220,542 at",
        "  sf0.1). Any complete method is output-bound there; the",
        "  structural win on diverse data is pinned by",
        "  tests/test_profiling.py::",
        "  test_passjoin_candidates_subquadratic_on_diverse_strings.",
        "- `embedding_near_dup` and `semantic_dedup_clusters` pin the",
        "  exact all-pairs path BY CONTRACT as oracle ground truth; the",
        "  scale-safe production twins are `embedding_near_dup_lsh` and",
        "  `semantic_dedup_clusters_lsh`, both driver-checked.",
        "- `event_anomaly_zscore` (r11 stage profile): the rolling",
        "  window shuffles RAW event rows on event_type, whose",
        "  cardinality in this schema is ~5 — so the window pass runs",
        "  ~5-way parallel at any volume (AQE coalesced it to ONE task",
        "  at sf0.1: 0.82 of the query's 0.92 executor-seconds). The",
        "  rising exponent is that serial term surfacing from under the",
        "  stage floor; parallelism is KEY-CARDINALITY-bound, which is",
        "  the declared per-type semantics, not a plan bug. The",
        "  scale-out form for high-volume types is the bucketed",
        "  rolling window (`rolling_zscore_bucketed`): partition by",
        "  (type, time bucket), carry the previous bucket's 20-row",
        "  tail across the boundary, drop carries after the pass —",
        "  exact, and parallel in buckets (driver-checked as",
        "  `event_anomaly_zscore_bucketed`).",
        "- `gap_fill_hourly` is a per-key window pass whose sf0.1 cost",
        "  is still mostly fixed stage overhead; its shuffle carries",
        "  (key, hour) aggregates, not raw rows.",
        "- `quality_weighted_sample` / `fim_splits` (r11 stage",
        "  profiles): pure map-side text passes — one scan stage + one",
        "  8-task compute stage, 1.46 / 0.47 executor-seconds total at",
        "  sf0.1. The exponent is the LINEAR text-compute term",
        "  emerging from under the barrier floor (plus a scan stage",
        "  whose task count equals the parquet row-group count — 1 at",
        "  these SFs, many at real volume). Nothing superlinear.",
        "- `stratified_sample_balanced` (r11 stage profile): 0.08",
        "  executor-seconds over 4 stages at sf0.1 — wall is pure",
        "  stage-barrier floor (strata counts + min threshold are two",
        "  dimension-sized jobs); the exponent measures scheduling.",
        "- `link_prediction_parts`' cost is the declared semantics, not",
        "  a plan artifact (r11 census): on the sf0.1 co-occurrence",
        "  graph max degree is 201, so the 256 hub cap is vacuous and",
        "  the capped wedge expansion materializes the full 117 M",
        "  weighted pairs (cap 128 would still keep 86 M; cap 64 guts",
        "  the score mass). DuckDB pays the same volume (~41 s vs ~38 s",
        "  Spark at sf0.1, 0.92x). Intentional: Adamic-Adar over ALL",
        "  sub-cap shared neighbors is the contract the oracle pins.",
        "- `dedup_minhash_lsh` at sf0.1 is stage-barrier-bound, not",
        "  compute-bound (r8 stage profile: 12.2 executor-seconds =",
        "  0.38 s/core of real work against a ~1.8 s wall over 6 serial",
        "  stages — signature fan-out exchange, band-bucket partial/final",
        "  aggregates, candidate distinct + broadcast, verify join). The",
        "  per-stage constant amortizes at scale (10x-corpus exponent",
        "  +0.21 in DOCS_SCALE_PROOF.md); a single-process engine pays",
        "  none of those barriers at toy SF, which is the whole of its",
        "  sf0.1 edge on this query.",
    ]
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
