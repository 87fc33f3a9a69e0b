"""Mergeable-sketch operators (operators/sketches.py): HyperLogLog
distinct and Count-Min frequency.

Properties pinned here (the registry queries pin engine-parity; these
pin the *algorithmic* guarantees against independent Python oracles):

- HLL raw-branch accuracy within theory bounds on a large key set.
- HLL linear-counting branch == an independent md5 Python replica.
- Sketch MERGE: registers of a union == MAX-merge of partial register
  tables (the property that makes the operator shardable at 100 TB).
- CMS one-sided error (est >= exact, even for absent keys) and
  cell-SUM mergeability across shards.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka_spark.operators.sketches import (
    CMS_DEFAULT_PARAMS,
    cms_lookup,
    cms_sketch,
    hll_distinct,
    hll_estimate,
    hll_sketch,
)
from spark_streaming_kafka_spark.functions.hashing import MERSENNE_P


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_hll(keys, p):
    """Independent Python replica of the estimator."""
    m = 1 << p
    field_bits = 60 - p
    regs = [0] * m
    for k in set(keys):
        h = _md5_long(k)
        b = h % m
        rest = h >> p
        rho = field_bits + 1 if rest == 0 else field_bits + 1 - rest.bit_length()
        regs[b] = max(regs[b], rho)
    maxbits = field_bits + 1
    z_int = sum(1 << (maxbits - r) for r in regs)
    if m == 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    e_raw = alpha * m * m * float(1 << maxbits) / z_int
    zeros = regs.count(0)
    if e_raw <= 2.5 * m and zeros > 0:
        return round(m * math.log(m / zeros), 2)
    return round(e_raw, 2)


@pytest.fixture(scope="module")
def keys_df(spark):
    # 20k distinct keys, each appearing 1-3 times, two groups.
    rows = []
    for i in range(20_000):
        g = "a" if i % 2 == 0 else "b"
        for _ in range(1 + i % 3):
            rows.append((g, f"key_{i}"))
    return spark.createDataFrame(rows, "g string, k string")


def test_hll_raw_branch_accuracy(spark, keys_df):
    out = {
        r["g"]: r
        for r in hll_distinct(keys_df, "k", ["g"], p=8).collect()
    }
    for g, exact in (("a", 10_000), ("b", 10_000)):
        est = out[g]["hll_distinct"]
        # raw branch: no empty registers at 10k keys into 256 buckets
        assert out[g]["empty_registers"] == 0
        assert abs(est - exact) / exact < 0.10  # 1.04/sqrt(256) ~ 6.5%


def test_hll_matches_python_replica_both_branches(spark):
    # Small set -> linear counting; big set -> raw estimator.
    for n, p in ((40, 8), (5_000, 8)):
        keys = [f"u{i}" for i in range(n)]
        df = spark.createDataFrame([(k,) for k in keys], "k string").withColumn(
            "g", F.lit("x")
        )
        got = hll_distinct(df, "k", ["g"], p=p).collect()[0]["hll_distinct"]
        assert got == pytest.approx(_py_hll(keys, p), abs=1e-9)


def test_hll_merge_equals_union(spark):
    a = spark.createDataFrame([(f"k{i}",) for i in range(0, 3000)], "k string")
    b = spark.createDataFrame([(f"k{i}",) for i in range(1500, 5000)], "k string")
    a, b = a.withColumn("g", F.lit("x")), b.withColumn("g", F.lit("x"))
    union_est = hll_distinct(a.unionByName(b), "k", ["g"], p=8).collect()[0]
    merged = (
        hll_sketch(a, "k", ["g"], p=8)
        .unionByName(hll_sketch(b, "k", ["g"], p=8))
        .groupBy("g", "bucket")
        .agg(F.max("max_rho").cast("int").alias("max_rho"))
    )
    merged_est = hll_estimate(merged, ["g"], p=8).collect()[0]
    assert merged_est["hll_distinct"] == union_est["hll_distinct"]
    assert merged_est["empty_registers"] == union_est["empty_registers"]


@pytest.fixture(scope="module")
def token_stream(spark):
    # Zipf-ish: term_i appears (50 - i) times, i in [0, 50).
    rows = [(f"t{i}",) for i in range(50) for _ in range(50 - i)]
    return spark.createDataFrame(rows, "term string")


def test_cms_one_sided_and_exact_with_wide_table(spark, token_stream):
    exact = {
        r["term"]: r["c"]
        for r in token_stream.groupBy("term").agg(F.count("*").alias("c")).collect()
    }
    probe = spark.createDataFrame(
        [(t,) for t in list(exact) + ["never_seen"]], "term string"
    )
    # Narrow width forces collisions -> strictly one-sided error.
    sk16 = cms_sketch(token_stream, width=16)
    est16 = {
        r["term"]: r["est_count"]
        for r in cms_lookup(sk16, probe, width=16).collect()
    }
    assert all(est16[t] >= c for t, c in exact.items())
    assert est16["never_seen"] >= 0
    assert sum(est16[t] > c for t, c in exact.items()) > 0  # collisions happened
    # Sketch never exceeds d*w cells.
    assert sk16.count() <= 3 * 16
    # Very wide table: no collisions, estimates exact.
    sk = cms_sketch(token_stream, width=65536)
    est = {
        r["term"]: r["est_count"]
        for r in cms_lookup(sk, probe, width=65536).collect()
    }
    assert all(est[t] == c for t, c in exact.items())
    assert est["never_seen"] == 0


def test_cms_merge_by_cell_sum(spark, token_stream):
    # Deterministic disjoint shards by term hash parity.
    tagged = token_stream.withColumn(
        "s", F.abs(F.xxhash64(F.col("term"))) % 2
    )
    s0 = cms_sketch(tagged.filter("s = 0").select("term"), width=32)
    s1 = cms_sketch(tagged.filter("s = 1").select("term"), width=32)
    merged = (
        s0.unionByName(s1)
        .groupBy("row", "col")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    whole = cms_sketch(token_stream, width=32)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_cms_params_overflow_safe():
    # a * h must stay inside int64 for every shipped row param.
    hmax = MERSENNE_P - 1
    for a, b in CMS_DEFAULT_PARAMS:
        assert a * hmax + b < 2**63


def test_hll_stream_monitor_matches_batch(spark, tmp_path):
    """Streaming register state must converge to the batch sketch over
    the same data, with estimates produced per micro-batch from
    bounded state."""
    from pyspark.sql import functions as F  # noqa: F811

    from spark_streaming_kafka_spark.streaming.sketches import hll_stream_monitor

    data_dir = tmp_path / "in"
    data_dir.mkdir()
    batch1 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(500)], "g string, k string"
    )
    batch2 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(250, 900)]
        + [("b", f"v{i}") for i in range(300)],
        "g string, k string",
    )
    batch1.coalesce(1).write.parquet(str(data_dir / "f1"))

    reports = {}

    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir / "*"))
    )
    q = (
        hll_stream_monitor(
            stream, "k", ["g"], lambda bid, rows: reports.update({bid: rows}), p=8
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        batch2.coalesce(1).write.parquet(str(data_dir / "f2"))
        q.processAllAvailable()
    finally:
        q.stop()

    final = {r["g"]: r for rows in [reports[max(reports)]] for r in rows}
    whole = batch1.unionByName(batch2)
    from spark_streaming_kafka_spark.operators.sketches import hll_distinct

    expect = {r["g"]: r for r in hll_distinct(whole, "k", ["g"], p=8).collect()}
    for g in ("a", "b"):
        assert final[g]["hll_distinct"] == expect[g]["hll_distinct"]
        assert final[g]["empty_registers"] == expect[g]["empty_registers"]
    # Bounded state: the register table never exceeds |groups| * 256.
    assert sum(len(rows) for rows in [reports[max(reports)]]) <= 2


def test_histogram_stream_monitor_matches_batch(spark, tmp_path):
    """Streaming (group, bin) cell state must converge to the batch
    sketch over the same data: quantile reports per micro-batch from
    |groups|*bins-bounded state."""
    from spark_streaming_kafka_spark.operators.sketches import (
        histogram_quantile,
        histogram_sketch,
    )
    from spark_streaming_kafka_spark.streaming.sketches import (
        histogram_stream_monitor,
    )

    data_dir = tmp_path / "in"
    data_dir.mkdir()
    b1 = spark.createDataFrame(
        [("a", float(i)) for i in range(400)], "g string, v double"
    )
    b2 = spark.createDataFrame(
        [("a", float(i)) for i in range(400, 1000)]
        + [("b", float(i * 2)) for i in range(300)],
        "g string, v double",
    )
    b1.coalesce(1).write.parquet(str(data_dir / "f1"))

    reports = {}
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir / "*"))
    )
    q = (
        histogram_stream_monitor(
            stream, "v", ["g"],
            lambda bid, rows: reports.update({bid: rows}),
            lo=0.0, hi=1000.0, bins=100,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        b2.coalesce(1).write.parquet(str(data_dir / "f2"))
        q.processAllAvailable()
    finally:
        q.stop()

    final = {(r["g"], r["q"]): r["est"] for r in reports[max(reports)]}
    whole = b1.unionByName(b2)
    sk = histogram_sketch(whole, "v", ["g"], 0.0, 1000.0, 100)
    expect = {
        (r["g"], r["q"]): r["est"]
        for r in histogram_quantile(sk, ["g"], [0.5, 0.95, 0.99], 0.0, 1000.0, 100).collect()
    }
    assert final == expect
    # and the estimates are actually near the truth for group a (uniform 0..999)
    assert abs(final[("a", 0.5)] - 500.0) <= 10.0


def test_null_inputs_ignored_by_all_sketches(spark):
    """NULL keys/values must not corrupt estimates (round-6 advice):
    hll_sketch would otherwise emit a bucket=NULL register row that
    inflates `nonzero`; histogram_sketch would count NULLs into a
    bin=NULL cell that inflates `total` and shifts every quantile;
    cms_sketch would address NULL cells."""
    from spark_streaming_kafka_spark.operators.sketches import (
        histogram_quantile,
        histogram_sketch,
    )

    clean = spark.createDataFrame(
        [("g", f"k{i}", float(i)) for i in range(100)], "g string, k string, v double"
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [("g", None, None)] * 7, "g string, k string, v double"
        )
    )

    # HLL: identical register tables and estimates with/without NULL keys.
    hc = hll_estimate(hll_sketch(clean, "k", ["g"], p=6), ["g"], p=6).collect()
    hd = hll_estimate(hll_sketch(dirty, "k", ["g"], p=6), ["g"], p=6).collect()
    assert [r.asDict() for r in hc] == [r.asDict() for r in hd]

    # Histogram: identical cells and quantiles with/without NULL values.
    qc = histogram_quantile(
        histogram_sketch(clean, "v", ["g"], 0.0, 100.0, 10), ["g"], [0.5], 0.0, 100.0, 10
    ).collect()
    qd = histogram_quantile(
        histogram_sketch(dirty, "v", ["g"], 0.0, 100.0, 10), ["g"], [0.5], 0.0, 100.0, 10
    ).collect()
    assert [r.asDict() for r in qc] == [r.asDict() for r in qd]

    # CMS: NULL keys contribute no cells.
    toks_c = clean.select(F.col("k").alias("term"))
    toks_d = dirty.select(F.col("k").alias("term"))
    sc_ = {(r.row, r.col): r.c for r in cms_sketch(toks_c).collect()}
    sd_ = {(r.row, r.col): r.c for r in cms_sketch(toks_d).collect()}
    assert sc_ == sd_


def test_histogram_quantile_fine_grained_q_distinguishable(spark):
    """qs=[0.995, 0.999] must emit distinguishable q values in the
    output (round-6 advice: round(q, 2) collapsed both to 1.0)."""
    from spark_streaming_kafka_spark.operators.sketches import (
        histogram_quantile,
        histogram_sketch,
    )

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(1000)], "g string, v double"
    )
    sk = histogram_sketch(df, "v", ["g"], 0.0, 1000.0, 100)
    out = histogram_quantile(sk, ["g"], [0.995, 0.999], 0.0, 1000.0, 100).collect()
    qs = sorted(r["q"] for r in out)
    assert qs == [0.995, 0.999]


def test_histogram_quantile_error_within_bin_width(spark):
    """The registered histogram_quantile_error query certifies the
    sketch numerically: every |est - exact| must be within one bin
    width (500/128) — the docstring's error bound as a checked
    invariant."""
    from spark_streaming_kafka_spark.queries import REGISTRY

    fn, _ = REGISTRY["histogram_quantile_error"]
    rows = fn(spark, "/root/testdata/sf0.001").collect()
    assert rows, "query returned nothing"
    bin_width = 500.0 / 128
    bad = [r.asDict() for r in rows if r["abs_err"] > bin_width]
    assert not bad, f"sketch quantile error exceeded a bin width: {bad}"


# ---------------------------------------------------------------------
# KMV / theta sketch (set-operation member of the family)
# ---------------------------------------------------------------------

def _kmv_py(keys, k):
    """Independent Python replica: k smallest distinct 60-bit hashes."""
    hs = sorted({_md5_long(s) for s in keys})
    return hs[:k]


def test_kmv_exact_when_small(spark):
    """< k distinct keys: the sketch IS the exact set, estimate == n."""
    from spark_streaming_kafka_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    df = spark.createDataFrame([("g", f"k{i % 37}") for i in range(500)], "g string, k string")
    sk = kmv_sketch(df, "k", ["g"], k=256)
    assert sk.count() == 37
    est = kmv_estimate(sk, ["g"], k=256).collect()[0]["kmv_distinct"]
    assert est == 37.0


def test_kmv_estimate_within_theory_bound(spark):
    """5000 distinct keys, k=256: rel err within 5 sigma (5/sqrt(k-1))."""
    from spark_streaming_kafka_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    n, k = 5000, 256
    df = spark.createDataFrame([("g", f"key_{i}") for i in range(n)], "g string, k string")
    est = kmv_estimate(kmv_sketch(df, "k", ["g"], k=k), ["g"], k=k).collect()[0][
        "kmv_distinct"
    ]
    assert abs(est - n) / n < 5.0 / (k - 1) ** 0.5
    # and it matches the Python replica's estimator exactly
    hk = _kmv_py([f"key_{i}" for i in range(n)], k)[-1]
    assert est == round((k - 1) * float(1 << 60) / hk, 2)


def test_kmv_merge_equals_union_sketch(spark):
    """Mergeability: kmv_merge(sketch(A), sketch(B)) == sketch(A ∪ B),
    row for row — the property that makes per-day rollups free."""
    from spark_streaming_kafka_spark.operators.sketches import kmv_merge, kmv_sketch

    a = spark.createDataFrame([("g", f"a{i}") for i in range(800)], "g string, k string")
    b = spark.createDataFrame(
        [("g", f"a{i}") for i in range(400, 1000)] + [("g", f"b{i}") for i in range(300)],
        "g string, k string",
    )
    k = 128
    merged = kmv_merge([kmv_sketch(a, "k", ["g"], k=k), kmv_sketch(b, "k", ["g"], k=k)], ["g"], k=k)
    whole = kmv_sketch(a.unionByName(b), "k", ["g"], k=k)
    assert sorted(r["h"] for r in merged.collect()) == sorted(
        r["h"] for r in whole.collect()
    )


def test_kmv_intersection_estimator(spark):
    """Overlap estimate: |A|=3000, |B|=3000, |A∩B|=1000 — estimate
    within 5 sigma; and with both sides < k the branch is exact."""
    from spark_streaming_kafka_spark.operators.sketches import (
        kmv_intersect_estimate,
        kmv_sketch,
    )

    k = 256
    a = spark.createDataFrame(
        [("p", f"u{i}") for i in range(3000)], "pair string, k string"
    )
    b = spark.createDataFrame(
        [("p", f"u{i}") for i in range(2000, 5000)], "pair string, k string"
    )
    out = kmv_intersect_estimate(
        kmv_sketch(a, "k", ["pair"], k=k), kmv_sketch(b, "k", ["pair"], k=k), ["pair"], k=k
    ).collect()[0]
    # theta-sketch sigma for intersection is larger than plain KMV;
    # allow a generous but still-informative band
    assert abs(out["inter_est"] - 1000) / 1000 < 0.5
    assert abs(out["jaccard_est"] - 0.2) < 0.1

    # exact branch: tiny sides
    a2 = spark.createDataFrame([("p", f"u{i}") for i in range(50)], "pair string, k string")
    b2 = spark.createDataFrame([("p", f"u{i}") for i in range(30, 80)], "pair string, k string")
    out2 = kmv_intersect_estimate(
        kmv_sketch(a2, "k", ["pair"], k=k), kmv_sketch(b2, "k", ["pair"], k=k), ["pair"], k=k
    ).collect()[0]
    assert out2["inter_est"] == 20.0
    assert out2["jaccard_est"] == round(20 / 80, 6)


def test_kmv_prefilter_is_exact_when_enough_keys(spark):
    """prefilter_bits discards ~15/16 of rows before the shuffle yet
    yields the identical sketch when ≥ k distinct hashes survive."""
    from spark_streaming_kafka_spark.operators.sketches import kmv_sketch

    df = spark.createDataFrame(
        [("g", f"key_{i}") for i in range(20000)], "g string, k string"
    )
    plain = kmv_sketch(df, "k", ["g"], k=64).collect()
    pre = kmv_sketch(df, "k", ["g"], k=64, prefilter_bits=4).collect()
    assert sorted(r["h"] for r in plain) == sorted(r["h"] for r in pre)


def test_kmv_stream_monitor_matches_batch(spark, tmp_path):
    """Streaming KMV monitor converges to the batch sketch estimate
    over identical data (hash parity Python-md5 vs md5_long included),
    with permanently bounded per-group state (n_hashes ≤ k)."""
    from spark_streaming_kafka_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )
    from spark_streaming_kafka_spark.streaming.sketches import kmv_stream_monitor

    k = 64
    b1 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(300)] + [("b", f"v{i}") for i in range(20)],
        "g string, k string",
    )
    b2 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(200, 500)] + [("b", f"v{i}") for i in range(10, 30)],
        "g string, k string",
    )
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    b1.coalesce(1).write.parquet(str(data_dir / "f1"))

    reports: dict[int, dict] = {}

    def sink(batch_df, batch_id):
        reports[batch_id] = {
            r["g"]: (r["kmv_distinct"], r["n_hashes"]) for r in batch_df.collect()
        }

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir / "*"))
    )
    q = (
        kmv_stream_monitor(stream, "k", ["g"], k=k)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        b2.coalesce(1).write.parquet(str(data_dir / "f2"))
        q.processAllAvailable()
    finally:
        q.stop()

    final: dict[str, tuple] = {}
    for bid in sorted(reports):
        final.update(reports[bid])
    whole = b1.unionByName(b2)
    expect = {
        r["g"]: r["kmv_distinct"]
        for r in kmv_estimate(kmv_sketch(whole, "k", ["g"], k=k), ["g"], k=k).collect()
    }
    assert {g: v[0] for g, v in final.items()} == expect
    assert all(v[1] <= k for v in final.values())
    # group b is exact (30 distinct < k)
    assert final["b"][0] == 30.0


def test_kmv_bottom_k_two_stage_identity_and_plan(spark):
    """r8: kmv_sketch's bottom-k is scale-safe BY DEFAULT — a salted
    two-stage rank whose final per-group window sees ≤ fanout·k rows.
    Pinned two ways: (1) the sketch is bit-identical to the independent
    Python bottom-k replica, (2) the optimized plan contains the salted
    window stage BEFORE the per-group window (two Window nodes, the
    first partitioned by (g, salt))."""
    from spark_streaming_kafka_spark.operators.sketches import kmv_sketch

    k = 64
    keys = [f"key_{i}" for i in range(5000)]
    df = spark.createDataFrame([("g", s) for s in keys], "g string, k string")
    sk = kmv_sketch(df, "k", ["g"], k=k, fanout=8)
    rows = sorted((r["pos"], r["h"]) for r in sk.collect())
    expect = [(i + 1, h) for i, h in enumerate(_kmv_py(keys, k))]
    assert rows == expect

    plan = sk._jdf.queryExecution().optimizedPlan().toString()
    salted = [ln for ln in plan.splitlines() if "salt" in ln and "windowspecdefinition" in ln.lower()]
    assert salted, plan  # stage-1 rank runs over (g, salt)
    # and the final (per-group, no salt) window exists too
    unsalted = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln.lower() and "salt" not in ln
    ]
    assert unsalted, plan
    # exactly the two window stages — a refactor that collapses or
    # splits the rank structure shows up as a count change here
    assert plan.count("windowspecdefinition") == 2, plan


def test_kmv_estimate_prefilter_corrects_small_groups(spark):
    """r8 ADVICE: under prefilter_bits=b, a group with fewer than k
    surviving hashes is a uniform 2^-b sample, not an exact set —
    kmv_estimate scales the n<k branch by 2^b. Since r9 the sketch
    RECORDS b in schema metadata: the default path auto-corrects (the
    historical silent understatement is unreachable) and an explicit
    mismatching b raises at plan-build time."""
    import pytest

    from spark_streaming_kafka_spark.operators.sketches import (
        kmv_estimate,
        kmv_recorded_prefilter_bits,
        kmv_sketch,
    )

    k, b = 64, 6
    n_true = 3000
    df = spark.createDataFrame(
        [("g", f"key_{i}") for i in range(n_true)], "g string, k string"
    )
    sk = kmv_sketch(df, "k", ["g"], k=k, prefilter_bits=b)
    assert kmv_recorded_prefilter_bits(sk) == b
    n_kept = sk.count()
    assert n_kept < k  # the scenario the guard exists for (~3000/64 ≈ 47)
    # the default now reads the recorded b — auto-corrected
    auto = kmv_estimate(sk, ["g"], k=k).collect()[0]["kmv_distinct"]
    explicit = kmv_estimate(sk, ["g"], k=k, prefilter_bits=b).collect()[0][
        "kmv_distinct"
    ]
    assert auto == explicit == float(n_kept * (1 << b))
    # and the corrected estimate is actually close to the truth
    assert abs(explicit - n_true) / n_true < 0.35
    # an explicit MISMATCH surfaces instead of silently biasing by 2^b
    with pytest.raises(ValueError, match="recorded prefilter_bits"):
        kmv_estimate(sk, ["g"], k=k, prefilter_bits=0)


def test_kmv_cross_group_overlap_is_lazy_and_correct(spark):
    """r8 ADVICE (medium): kmv_cross_group_overlap must be a single
    lazy plan — constructing it runs ZERO Spark jobs (the r7 form
    collected theta eagerly and froze it as a literal), and its values
    match an independent Python theta replica."""
    from spark_streaming_kafka_spark.operators.sketches import (
        kmv_cross_group_overlap,
        kmv_sketch,
    )

    k = 64
    rows = [("a", f"u{i}") for i in range(500)] + [
        ("b", f"u{i}") for i in range(300, 900)
    ]
    df = spark.createDataFrame(rows, "g string, k string")
    sk = kmv_sketch(df, "k", ["g"], k=k)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out_df = kmv_cross_group_overlap(sk, "g", "a", "b", k=k)
    after = set(tracker.getJobIdsForGroup(None))
    assert before == after, "construction must not run jobs"

    out = out_df.collect()[0]

    # Python replica of the theta rule on the same hashes.
    ha = _kmv_py([f"u{i}" for i in range(500)], k)
    hb = _kmv_py([f"u{i}" for i in range(300, 900)], k)
    space = 1 << 60
    theta = min(space if len(ha) < k else ha[-1], space if len(hb) < k else hb[-1])
    both_exact = len(ha) < k and len(hb) < k
    ka = set(ha) if both_exact else {h for h in ha if h < theta}
    kb = set(hb) if both_exact else {h for h in hb if h < theta}
    x, u = len(ka & kb), len(ka | kb)
    inter = float(x) if both_exact else x * float(space) / theta
    assert out["pair"] == "a|b"
    assert abs(out["inter_est"] - round(inter, 2)) < 0.02
    assert out["jaccard_est"] == round(x / u, 6)


def test_kmv_stream_monitor_non_string_group_keys(spark, tmp_path):
    """r8 ADVICE: the monitor's output schema derives group-column
    types from the input schema — an int group key must round-trip
    as int (the r7 form hardcoded string and broke here)."""
    from spark_streaming_kafka_spark.streaming.sketches import kmv_stream_monitor

    k = 16
    batch = spark.createDataFrame(
        [(1, f"u{i}") for i in range(40)] + [(2, f"v{i}") for i in range(5)],
        "g int, k string",
    )
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    batch.coalesce(1).write.parquet(str(data_dir / "f1"))

    got: dict = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            got[r["g"]] = (r["kmv_distinct"], r["n_hashes"])

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir / "*"))
    )
    q = (
        kmv_stream_monitor(stream, "k", ["g"], k=k)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert set(got) == {1, 2}  # native int keys, not "1"/"2"
    assert got[2] == (5.0, 5)  # exact branch
    assert got[1][1] <= k


def test_kmv_intersect_prefilter_corrects_small_sides(spark):
    """r8 self-review: a prefiltered sketch side with n<k surviving
    hashes is a 2^-b sample, never exact — kmv_intersect_estimate and
    kmv_cross_group_overlap with prefilter_bits=b use the prefilter
    threshold as that side's theta instead of claiming exactness.
    Since r9 the sketches record b, so the default path auto-corrects
    and a mismatching explicit b raises."""
    import pytest

    from spark_streaming_kafka_spark.operators.sketches import (
        kmv_cross_group_overlap,
        kmv_intersect_estimate,
        kmv_sketch,
    )

    k, b = 64, 7
    n_side, n_inter = 4000, 2000
    a_rows = [("p", f"u{i}") for i in range(n_side)]
    b_rows = [("p", f"u{i}") for i in range(n_inter, n_inter + n_side)]
    a_df = spark.createDataFrame(a_rows, "g string, k string")
    b_df = spark.createDataFrame(b_rows, "g string, k string")
    sa = kmv_sketch(a_df, "k", ["g"], k=k, prefilter_bits=b)
    sb = kmv_sketch(b_df, "k", ["g"], k=k, prefilter_bits=b)
    assert sa.count() < k and sb.count() < k  # the regime under test

    auto = kmv_intersect_estimate(sa, sb, ["g"], k=k).collect()[0]
    fixed = kmv_intersect_estimate(sa, sb, ["g"], k=k, prefilter_bits=b).collect()[0]
    # the default reads the recorded b — identical to the explicit call
    assert auto == fixed
    # corrected lands near the truth (sampled estimate, generous bound)
    assert abs(fixed["inter_est"] - n_inter) / n_inter < 0.45
    # a mismatching explicit b raises instead of silently claiming exactness
    with pytest.raises(ValueError, match="recorded prefilter_bits"):
        kmv_intersect_estimate(sa, sb, ["g"], k=k, prefilter_bits=0)

    # the one-sketch two-group form obeys the same rule
    both = kmv_sketch(
        a_df.withColumn("g", F.lit("a")).unionByName(
            b_df.withColumn("g", F.lit("b"))
        ),
        "k",
        ["g"],
        k=k,
        prefilter_bits=b,
    )
    ov = kmv_cross_group_overlap(both, "g", "a", "b", k=k, prefilter_bits=b).collect()[0]
    assert abs(ov["inter_est"] - n_inter) / n_inter < 0.45


