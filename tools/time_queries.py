"""Time an arbitrary list of registry queries with bench.py's protocol
(``bench.measure``) — for profiling work on queries that are in
neither committed suite.

Usage: python tools/time_queries.py [--json OUT.json] QUERY [QUERY ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32). Prints one JSON line in the bench.py
shape so records are directly comparable.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    args = list(sys.argv[1:])
    out_path = None
    if "--json" in args:
        i = args.index("--json")
        out_path = args[i + 1]
        del args[i : i + 2]
    names = args
    if not names:
        raise SystemExit("usage: time_queries.py [--json OUT.json] QUERY ...")

    from spark_streaming_kafka_spark import get_spark

    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    timings = {n: round(s, 3) for n, s in bench.measure(spark, names).items()}

    out = {
        "metric": "ad-hoc query timings",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf_dir": bench.SF_DIR,
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(out))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
