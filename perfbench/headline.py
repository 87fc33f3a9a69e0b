"""batch_headline: the 24 queries of the frozen headline suite, each run
to completion once, one at a time, in the seeded order.

Inputs are the sf0.01 star-schema tables committed under
``perfbench/data/sf0.01`` (the benchmark reads nothing outside its
checkout). The query list is ``bench.HEADLINE``; the seed sets its order.
Set-up (``setup_s``) loads every input table through the package's
``load_table`` and counts its rows. Then each query is built (the
registry call: driver plan build) and collected, timed; its row count and
order-insensitive fingerprint are checked, outside the timed region,
against the DuckDB oracle values pinned in ``oracles.json``
(``pin_oracles.py`` recomputes them). The cache is cleared and Python
garbage collected between queries.

This is each query's first run in the session — plan build, code
generation and execution — collected rather than written to the noop
sink, so that one execution both is timed and yields the rows to check.
``bench.py`` runs a warm pass first and then times noop writes; that
protocol costs two more executions of every query than the run-time
budget leaves room for (README.md, "Budget").
"""

from __future__ import annotations

import datetime as dt
import decimal
import gc
import hashlib
import json
import os
import random
import time
from contextlib import nullcontext

from bench import HEADLINE
from harness import Tracer, job_group

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
ORACLES = os.path.join(HERE, "oracles.json")

#: Queries whose physical plan holds a Python-worker node (ArrowEvalPython,
#: MapInPandas, FlatMapGroupsInPandas, BatchEvalPython), pinned once by
#: ``pin_oracles.py``. The rest run entirely in the JVM.
PYUDF = ["dedup_minhash_lsh", "dedup_simhash", "ann_topk_bruteforce",
         "ann_topk_lsh", "ann_topk_ivf"]

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                "BatchEvalPython", "FlatMapCoGroupsInPandas", "MapInArrow")


def _canon(v):
    """Engine-neutral value: numbers as doubles rounded to 9 places (the
    registry's own rounding contract), exact ints beyond 2^53, times as
    naive-UTC ISO strings, nested values recursively."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, int) and abs(v) >= 2**53:
            return str(v)
        f = round(float(v), 9)
        return 0.0 if f == 0 else f
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def fingerprint(columns: list[str], rows) -> str:
    """Order-insensitive md5 over rows whose columns are taken in name
    order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        json.dumps([_canon(r[i]) for i in order], sort_keys=True) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _release(spark) -> None:
    """Before each query, outside timing: drop cached blocks and Python
    garbage (which keeps JVM objects alive through their proxies), so no
    query runs beside what the one before it left behind. ``bench.py``
    also collects the JVM heap here; that costs ~0.15 s a query, and a
    young collection inside a query costs milliseconds."""
    spark.catalog.clearCache()
    gc.collect()


def run(spark, seed: int, seconds: float, tracer: Tracer) -> dict:
    from spark_streaming_kafka_spark.queries import QUERIES
    from spark_streaming_kafka_spark.sources.readers import load_table

    with open(ORACLES) as f:
        pins = json.load(f)["queries"]
    order = list(HEADLINE)
    random.Random(seed).shuffle(order)

    # set-up: load and count every input table (the registry reuses the
    # loaded tables: load_table memoizes them per session)
    t0 = time.perf_counter()
    table_rows = {
        t: load_table(spark, DATA_DIR, t).count()
        for t in sorted(f.rsplit(".", 1)[0] for f in os.listdir(DATA_DIR))
    }
    setup_s = time.perf_counter() - t0
    _release(spark)

    times, build, exe, bad = {}, {}, {}, []
    for name in order:
        with job_group(spark, f"query-{name}") if tracer.enabled else nullcontext(), \
                tracer.span("query", trace_id=name, group=f"query-{name}"):
            t0 = time.perf_counter()
            with tracer.span("queries.build"):
                df = QUERIES[name](spark, DATA_DIR)
            t1 = time.perf_counter()
            with tracer.span("queries.exec"):
                rows = df.collect()
            t2 = time.perf_counter()
        times[name], build[name], exe[name] = t2 - t0, t1 - t0, t2 - t1
        pin = pins[name]
        if len(rows) != pin["rows"] or fingerprint(df.columns, rows) != pin["fingerprint"]:
            bad.append(name)
        del df, rows
        _release(spark)

    total = sum(times.values())
    named = {
        "headline_s": total,
        "relational_s": sum(t for q, t in times.items() if q not in PYUDF),
        "pyudf_s": sum(t for q, t in times.items() if q in PYUDF),
    }
    result = {
        "attempted": len(order),
        "failed": len(bad),
        "correct": not bad and all(table_rows.values()),
        "setup_s": setup_s,
        "op_mean_s": total / len(times),
        "work_s": total,
        "ops": list(times.values()),
        "named": named,
        "keep_group": lambda g: g.startswith("query-"),
        "report": {
            "table_rows": table_rows,
            "oracle_mismatch": bad,
            # in run order: the trend over the pass is the warm-up
            "query_s": {q: round(t, 4) for q, t in times.items()},
        },
    }
    if tracer.enabled:
        layers = {f"queries.{q}_s": t for q, t in times.items()}
        layers["queries.build_s"] = sum(build.values())
        layers["queries.exec_s"] = sum(exe.values())
        result["layers"] = layers
    return result
