"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Suites (``python bench.py [headline|pipeline]``, default headline —
the driver-graded record, unchanged since r3 so rounds compare
like-for-like): ``pipeline`` is the LLM-data-pipeline tier added in
r7 so the newer operator families (CDC rewrite, DSIR, winnowing,
BM25/RRF retrieval, sketches, governance splits, BPE) sit on a
measured perf path too — a regression there was previously invisible
to any committed number.

Both suites run under :func:`measure`, the one timing protocol every
Spark-timing tool in ``tools/`` shares: each query forced with the
noop sink, one unmeasured warm-up pass, then the per-query min of two
measured passes with the previous query's cache and garbage released
before each run. Cold numbers are dominated by whole-stage-codegen
compilation (~3-4s per novel plan shape), a per-plan constant that is
irrelevant at 100 TB.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _quick_md5_sec() -> float:
    """Fixed-work single-core probe (32 MB md5, ~54 ms on this class of
    box when healthy) — measures actual available CPU speed, which
    loadavg cannot: a noisy-neighbor VM shows loadavg 0 while every
    cycle runs 3-8× slow (observed r8: matmul calib 0.055 → 0.44 s at
    loadavg 2.6)."""
    import hashlib

    buf = b"\xab" * (32 << 20)
    t0 = time.perf_counter()
    hashlib.md5(buf).hexdigest()
    return time.perf_counter() - t0


def _wait_for_quiet(
    threshold: float = 2.0,
    md5_threshold: float = 0.07,
    max_wait_sec: float = 900.0,
    poll: float = 10.0,
) -> dict:
    """Spin until the box is quiet AND fast before recording anything.

    Three consecutive rounds of graded records were taken on a
    contended box (r5-r7: loadavg 8-9 at sample time), each costing an
    adjudication round to disprove a phantom regression — so the guard
    is now IN the harness, not in the runbook. Two gates, both
    required: loadavg_1m < ``threshold`` (other processes) and the
    fixed-work md5 probe < ``md5_threshold`` (hypervisor steal /
    noisy-neighbor slowdown, which loadavg misses entirely). Blocks up
    to ``max_wait_sec`` (15 min), polling every ``poll`` seconds;
    returns what happened so the record is self-describing. If the box
    never passes, the run proceeds but the output carries
    ``"contended": true`` — a record that disqualifies itself instead
    of silently reading slow. Overrides:
    SPARK_GRAFT_NO_QUIET_GUARD=1 skips entirely (local iteration);
    SPARK_GRAFT_MD5_GATE sets the md5 threshold (a genuinely slower
    machine should raise it rather than wait out the clock).
    """
    md5_threshold = float(os.environ.get("SPARK_GRAFT_MD5_GATE", md5_threshold))
    if os.environ.get("SPARK_GRAFT_NO_QUIET_GUARD"):
        return {"quiet_wait_sec": 0.0, "contended": os.getloadavg()[0] >= threshold,
                "guard": "skipped"}
    t0 = time.time()
    load, md5s = os.getloadavg()[0], _quick_md5_sec()
    while (load >= threshold or md5s >= md5_threshold) and (
        time.time() - t0 < max_wait_sec
    ):
        time.sleep(poll)
        load, md5s = os.getloadavg()[0], _quick_md5_sec()
    # gate_md5_sec is the probe the contended verdict was DECIDED on;
    # _calibrate() keeps the min of this and its own sample so a box
    # hovering at the threshold can never record "contended": false
    # next to an above-threshold calib value (r10 verdict nuance —
    # the two samples used to be taken independently).
    return {
        "quiet_wait_sec": round(time.time() - t0, 1),
        "contended": load >= threshold or md5s >= md5_threshold,
        "gate_md5_sec": round(md5s, 4),
    }


def _calibrate() -> dict:
    """Fixed-work single-core microbenchmarks, reported alongside the
    suite so cross-round records are box-normalizable. Round 6's +14%
    'regression' was a slower/contended box, not a plan change — the
    per-query deltas were uniform. With `calib` in the record, value /
    calib_md5 compares like-for-like across sessions. Also records the
    1-min load average at start so contention is visible in the artifact.
    """
    import numpy as np

    md5_sec = _quick_md5_sec()
    a = np.ones((512, 512))
    t0 = time.perf_counter()
    for _ in range(8):
        a = a @ a % 7.0
    mm_sec = time.perf_counter() - t0
    return {
        "md5_32mb_sec": round(md5_sec, 4),
        "matmul_512_sec": round(mm_sec, 4),
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }

#: Headline set: every operator family with real work at sf0.1.
HEADLINE = [
    "pricing_summary",        # scan+filter+wide agg
    "counts_and_averages",    # high-cardinality hash agg
    "top_revenue_join",       # 3-way broadcast join + agg + top-k
    "filter_project",         # pushdown + pruning scan
    "percentile_buckets",     # per-group exact quantiles + join (W1)
    "window_topk_per_customer",  # window shuffle (W2)
    "json_extract_sum",       # from_json parse
    "word_count",             # explode + agg
    "dedup_exact",            # md5 groupBy
    "dedup_minhash_lsh",      # signatures + banding + verify
    "dedup_simhash",          # fingerprints + banding
    "ann_topk_bruteforce",    # broadcast NLJ + vector fold + window
    "ann_topk_lsh",           # sign-LSH buckets + per-bucket BLAS top-k
    "ann_topk_ivf",           # IVF cells: shuffle-free assign + probe
    "quality_scores",         # text feature extraction
    "doc_fingerprints",       # rolling-hash fingerprint
    "asof_click_view",        # as-of join (union + fill-forward window)
    "band_join_click_error",  # band join (interval bucketing)
    "tumbling_hourly_stats",  # event-time window agg
    "rollup_revenue",         # grouping-sets hash agg + joins
    "corpus_clean_pipeline",  # dedup+quality composite cleaning pass
    "dedup_clusters",         # near-dup pairs -> components (iterative)
    "gap_fill_hourly",        # dense resample via sequence explode
    "etl_ratings_pipeline",   # reference's full ETL (filters+W1+top-200)
]

#: LLM-data-pipeline tier (r7): the post-r1 operator families that the
#: frozen headline suite never measures. One representative per family,
#: chosen for real sf0.1 work (not scheduling-floor noise).
PIPELINE = [
    "cdc_dedup_rewrite",        # content-defined chunking dedup rewrite
    "cdc_chunk_documents",      # CDC chunker alone (rolling hash)
    "winnowing_overlap_pairs",  # winnowing fingerprints -> overlap pairs
    "dsir_select_docs",         # hashed-ngram importance resampling
    "bm25_topk_docs",           # inverted-index BM25 retrieval
    "hybrid_search_rrf",        # BM25 + ANN reciprocal-rank fusion
    "hll_distinct_users",       # HyperLogLog sketch + estimate
    "heavy_hitters_cms",        # Count-Min sketch + point queries
    "split_no_leakage",         # duplicate-graph-safe train/test split
    "web_corpus_gate",          # composed quality/langid/boilerplate gate
    "bpe_merges",               # iterative BPE vocabulary learning
    # r10 additions (families new this round; earlier entries unchanged
    # so r7-r9 pipeline records stay comparable on the shared prefix):
    "part_cooccurrence_topk",   # basket pair expansion + per-item top-k
    "curriculum_schedule",      # per-source quality ranking + interleave
    # r10 batch-B additions (same prefix-stability rule):
    "graph_triangle_counts",    # degree-ordered triangle enumeration
    "rfm_customer_segments",    # fused 3-ordering global_ntile_multi
    "attribution_u_shaped",     # per-user conversion x touch join + window
    # r11 additions (same prefix-stability rule: earlier entries
    # unchanged so r7-r10 pipeline records compare on the shared
    # prefix):
    "pagerank_source_authority",  # single-lazy-query exchange-reuse loop
    "hits_hub_authority",         # fixed-iteration HITS, deferred L1 norm
    "rolling_active_users_28d",   # sliding COUNT DISTINCT via window-end explode
    # r12 additions (same prefix-stability rule). These three are
    # STREAMING micro-benches, not registry queries: the streaming tier
    # (15 modules) previously had zero committed perf numbers. Each
    # runs one bounded structured-streaming job to completion from a
    # deterministic file source derived from the SF dir (fresh
    # checkpoint per invocation — nothing carries between timed runs);
    # the timed value is the full drain. See streaming/microbench.py.
    "stream_manifest_dedup",      # two-tier incremental dedup foreachBatch loop
    "stream_sessionization",      # applyInPandasWithState sentinel sessions
    "stream_drift_gate",          # per-batch PSI vs fixed binned reference
]

SUITES = {"headline": HEADLINE, "pipeline": PIPELINE}


def _min_of(names, passes: int, run, release) -> dict[str, float]:
    """One unmeasured pass of ``run`` over ``names``, then ``passes``
    measured passes with ``release()`` before every measured run; the
    per-name minimum in seconds."""
    for name in names:
        run(name)
    best: dict[str, float] = {}
    for _ in range(passes):
        for name in names:
            release()
            t0 = time.perf_counter()
            run(name)
            dt = time.perf_counter() - t0
            best[name] = min(best.get(name, dt), dt)
    return best


def noop_run(spark, sf_dir: str):
    """``run(name)`` for :func:`measure` over ``sf_dir``: a registry
    query forced with the noop sink (full materialization, no driver
    transfer, no result-size bias), or a streaming micro-bench drained
    to completion (bounded stream, its own sink)."""
    from spark_streaming_kafka_spark.queries import QUERIES
    from spark_streaming_kafka_spark.streaming.microbench import STREAM_MICRO

    def run(name: str) -> None:
        if name in STREAM_MICRO:
            STREAM_MICRO[name](spark, sf_dir)
        else:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()

    return run


def measure(spark, names, passes: int = 2, run=None) -> dict[str, float]:
    """The timing protocol every Spark measurement in the repo shares:
    per-name minimum seconds of ``run(name)`` (default: ``noop_run`` at
    ``SF_DIR``) over ``passes`` measured passes.

    The first pass is unmeasured: it pays the one-time JVM/codegen/JIT
    warm-up per plan shape, so the measured passes are steady state,
    which is how these plans run in a long-lived session. Reporting the
    per-name MIN means one transient stall (GC pause, CPU contention
    from an unrelated process) can't masquerade as a plan cost. Before
    every measured run:

    - ``clearCache`` + ``gc.collect()`` drop blocks orphaned by the
      PREVIOUS run (iterative ops localCheckpoint per round; the RDD
      blocks are only released when Python refs die);
    - ``System.gc()`` pays the previous run's JVM garbage here, not
      inside the next measurement: the Arrow/pandas-UDF heavyweights
      leave allocation debt that taxes whatever runs next by ~0.5 s
      (measured r8: etl after minhash/quality/word_count ran 1.4-1.6 s
      vs 0.87 s consecutive; an explicit gc between recovered ~0.4 s).
      Per-job execution would never carry a neighbor's heap state.

    Every name must be a registry query or a streaming micro-bench; an
    unknown one raises ``ValueError`` before any Spark work.
    """
    import gc

    from spark_streaming_kafka_spark.queries import QUERIES
    from spark_streaming_kafka_spark.streaming.microbench import STREAM_MICRO

    unknown = [n for n in names if n not in QUERIES and n not in STREAM_MICRO]
    if unknown:
        raise ValueError(f"not a registry query or stream micro-bench: {unknown}")

    def release() -> None:
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()

    return _min_of(names, passes, run or noop_run(spark, SF_DIR), release)


def duckdb_times(sf_dir: str, sqls: dict[str, str]) -> dict[str, float]:
    """:func:`measure`'s protocol for DuckDB (all threads): one view per
    ``<table>.parquet`` in ``sf_dir`` — a parquet file or a Spark
    part-file directory — then per-name minimum seconds of fetching
    ``sqls[name]`` over two measured passes after a warm one. DuckDB
    holds no cache between queries, so nothing is released."""
    import duckdb

    con = duckdb.connect()
    for entry in sorted(os.listdir(sf_dir)):
        table, ext = os.path.splitext(entry)
        if ext != ".parquet":
            continue
        path = os.path.join(sf_dir, entry)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    try:
        return _min_of(
            list(sqls), 2, lambda n: con.execute(sqls[n]).fetchall(), lambda: None
        )
    finally:
        con.close()


def main() -> None:
    from spark_streaming_kafka_spark import get_spark

    # Opt-in workload profile (tuning.py): SPARK_GRAFT_PROFILE=batch_etl
    # layers that profile's conf delta over the session defaults, scaled
    # to the benched core count, and is recorded in the output line so
    # A/B runs are self-describing. Unset = the plain defaults.
    profile_name = os.environ.get("SPARK_GRAFT_PROFILE")
    extra_conf = None
    if profile_name:
        from spark_streaming_kafka_spark.tuning import profile

        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        extra_conf = profile(profile_name, total_cores=cores)

    suite_name = "headline"
    for a in sys.argv[1:]:
        if a in SUITES:
            suite_name = a
    suite = SUITES[suite_name]

    # Gate on a quiet box FIRST (see _wait_for_quiet), then calibrate
    # BEFORE the JVM exists: the microbenchmarks must see the same idle
    # box the suite's critical path competes on, not the session's own
    # startup threads.
    quiet = _wait_for_quiet()
    calib = _calibrate()
    calib.update(quiet)
    # keep the faster of (gate-passing probe, calibrate probe): both
    # measure the same fixed work, and the recorded value must agree
    # with the verdict the gate just issued (see _wait_for_quiet).
    if "gate_md5_sec" in calib:
        calib["md5_32mb_sec"] = min(
            calib["md5_32mb_sec"], calib.pop("gate_md5_sec")
        )

    spark = get_spark("bench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    timings = {n: round(s, 3) for n, s in measure(spark, suite).items()}

    sf = 0.1
    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[1])
    except (IndexError, ValueError):
        pass
    out = {
        "metric": f"{suite_name}-suite wall clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if profile_name:
        out["profile"] = profile_name
    out["calib"] = calib
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
