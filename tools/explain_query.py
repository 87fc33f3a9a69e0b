"""Dump the explain("formatted") plan of registry queries to files —
the before/after evidence convention under plans/rNN/.

Usage: python tools/explain_query.py OUT_DIR SUFFIX QUERY [QUERY ...]

Writes OUT_DIR/<query>_<SUFFIX>.txt for each query. Env:
SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, suffix, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)

    from spark_streaming_kafka_spark import get_spark
    from spark_streaming_kafka_spark.plans.inspect import explain_str
    from spark_streaming_kafka_spark.queries import QUERIES

    spark = get_spark("explain-query")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        plan = explain_str(QUERIES[name](spark, SF_DIR), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
