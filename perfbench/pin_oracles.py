"""Recompute the pinned batch_headline oracle values and Python-UDF split.

    python3 perfbench/pin_oracles.py

For each headline query: row count and order-insensitive fingerprint of
its registered DuckDB oracle over ``perfbench/data/sf0.01`` (written to
``oracles.json``), the same fingerprint of the Spark result (reported,
must agree), and whether the Spark physical plan holds a Python-worker
node (printed, to be pinned as ``headline.PYUDF``). Run it once when the
inputs or the registry's oracle SQL change, never inside a timed run.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules, then the checkout root (the package, bench.py)
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import harness  # noqa: E402
import headline  # noqa: E402


def main() -> int:
    import duckdb

    os.environ["TZ"] = "UTC"
    from spark_streaming_kafka_spark.queries import ORACLES, QUERIES

    con = duckdb.connect()
    for f in sorted(os.listdir(headline.DATA_DIR)):
        table = f.rsplit(".", 1)[0]
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM "
                f"'{os.path.join(headline.DATA_DIR, f)}'")
    work = harness.Workdir()
    pins, pyudf, mismatch = {}, [], []
    try:
        spark = harness.start_spark(work, "perfbench-pin")
        for name in headline.HEADLINE:
            rel = con.sql(ORACLES[name])
            orows = rel.fetchall()
            pins[name] = {"rows": len(orows),
                          "fingerprint": headline.fingerprint(rel.columns, orows)}
            df = QUERIES[name](spark, headline.DATA_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            if any(n in plan for n in headline.PYTHON_NODES):
                pyudf.append(name)
            srows = df.collect()
            if headline.fingerprint(df.columns, srows) != pins[name]["fingerprint"]:
                mismatch.append(name)
            print(name, pins[name], flush=True)
    finally:
        harness.stop_spark()
        work.close()
    with open(headline.ORACLES, "w") as f:
        json.dump({"data": "data/sf0.01", "queries": pins}, f, indent=1)
        f.write("\n")
    print("PYUDF =", json.dumps(pyudf))
    print("spark/oracle fingerprint mismatches:", mismatch)
    return 1 if mismatch else 0


if __name__ == "__main__":
    sys.exit(main())
