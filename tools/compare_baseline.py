"""Side-by-side: Spark bench queries vs their DuckDB oracle, same SF.

Contextualizes BENCH numbers against a single-process columnar engine
(the closest measurable stand-in for BASELINE.md, which publishes no
numbers). Both engines run bench.py's protocol (``bench.measure`` /
``bench.duckdb_times``: a warm pass, then the min of two measured
passes); DuckDB gets all threads.

Usage: python tools/compare_baseline.py [sf_dir] [--json OUT.json]
                                        [--queries NAME [NAME ...]]
Prints one JSON line: {query: {"duckdb": s, "spark": s, "ratio": r}}.
Default query set is the bench HEADLINE suite; ``--queries`` appends
extra registry names (r12: the rewritten pipeline-tier queries). Every
name must be registered: ``--queries`` takes all the words after it,
so an ``sf_dir`` given after it is an error, not a silent query name —
give ``sf_dir`` first.

Reading the ratios (see README "Performance vs single-process
baseline"): sub-100 ms DuckDB queries sit under Spark's ~0.3 s per-job
scheduling floor — that constant is what a cluster amortizes away; the
queries with real compute land within ~2x either way.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    from spark_streaming_kafka_spark.queries import REGISTRY

    ap = argparse.ArgumentParser(
        description="Spark bench queries vs their DuckDB oracle, same SF."
    )
    ap.add_argument("sf_dir", nargs="?", default=bench.SF_DIR)
    ap.add_argument("--json", dest="json_out", metavar="OUT.json")
    ap.add_argument("--queries", nargs="+", default=[], metavar="NAME",
                    help="extra registry queries (give sf_dir before this)")
    args = ap.parse_args(argv)
    unknown = [q for q in args.queries if q not in REGISTRY]
    if unknown:
        ap.error(f"unknown query name(s) {unknown}; an sf_dir goes before --queries")
    return args


def main() -> None:
    args = parse_args()
    sf_dir = args.sf_dir
    from spark_streaming_kafka_spark import get_spark
    from spark_streaming_kafka_spark.queries import REGISTRY

    names = list(bench.HEADLINE) + args.queries
    spark = get_spark("compare_baseline")
    spark.sparkContext.setLogLevel("ERROR")
    spark_s = bench.measure(spark, names, run=bench.noop_run(spark, sf_dir))
    duck_s = bench.duckdb_times(
        sf_dir, {n: REGISTRY[n][1] for n in names if REGISTRY[n][1] is not None}
    )

    out: dict[str, dict[str, float]] = {}
    for name in names:
        s_spark = spark_s[name]
        if name not in duck_s:
            out[name] = {"spark": round(s_spark, 3)}
            continue
        s_duck = duck_s[name]
        out[name] = {
            "duckdb": round(s_duck, 3),
            "spark": round(s_spark, 3),
            "ratio": round(s_spark / s_duck, 2) if s_duck > 0 else None,
        }
    print(json.dumps(out))
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "queries": out}, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
