

def test_rendezvous_assignment_matches_python_replica(spark):
    """Placement parity vs an independent hashlib replica, and the
    tie-break/ordering rule (max hash, shard name on exact ties)."""
    import hashlib

    from spark_streaming_kafka_spark.operators.skew import rendezvous_assign

    shards = [f"shard{i}" for i in range(8)]
    ids = list(range(500))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["shard"] for r in rendezvous_assign(df, "doc_id", shards).collect()}

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for i in ids:
        want = max(shards, key=lambda s: (h(f"{i}|{s}"), s))
        assert got[i] == want, i


def test_rendezvous_resize_relocates_one_over_n(spark):
    """THE rendezvous property: adding a 9th shard relocates only the
    keys whose new-shard hash beats all 8 old ones (~1/9 in
    expectation), and every relocated key moves TO the new shard —
    no key ever moves between surviving shards."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_spark.operators.skew import rendezvous_assign

    n = 5000
    df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    before = rendezvous_assign(df, "doc_id", [f"shard{i}" for i in range(8)], "s8")
    both = rendezvous_assign(before, "doc_id", [f"shard{i}" for i in range(9)], "s9")
    moved = both.filter(F.col("s8") != F.col("s9"))
    n_moved = moved.count()
    # expectation 1/9 ≈ 11.1%; binomial 5-sigma band
    assert 0.08 < n_moved / n < 0.145, n_moved / n
    # every move lands on the new shard — surviving shards never trade keys
    assert moved.filter(F.col("s9") != "shard8").count() == 0


def test_rendezvous_rejects_duplicate_shards(spark):
    import pytest as _pytest

    from spark_streaming_kafka_spark.operators.skew import rendezvous_assign

    df = spark.createDataFrame([(1,)], "doc_id long")
    with _pytest.raises(ValueError):
        rendezvous_assign(df, "doc_id", ["a", "a"])


def test_fan_out_runs_no_job_while_the_plan_is_built(spark, tmp_path):
    """fan_out decides without executing: on an aggregated input (whose
    partition count only AQE's run would reveal) it starts no Spark job
    and repartitions to the target; on a one-file parquet scan it keeps
    the partition-count check — up to the target, and a no-op on a leaf
    that already has that many splits."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_spark.operators.skew import fan_out

    sc = spark.sparkContext
    target = sc.defaultParallelism
    one = str(tmp_path / "one")
    spark.range(200).selectExpr("id", "id % 7 AS k").coalesce(1).write.parquet(one)

    def jobs_during(build):
        group = f"fan-out-{tmp_path.name}-{id(build)}"
        sc.setJobGroup(group, group)
        try:
            out = build()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    agg = spark.read.parquet(one).groupBy("k").agg(F.count("*").alias("n"))
    out, n_jobs = jobs_during(lambda: fan_out(agg))
    assert n_jobs == 0
    assert out.rdd.getNumPartitions() == target
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, agg.collect()))

    scan = spark.read.parquet(one)
    out, n_jobs = jobs_during(lambda: fan_out(scan))
    assert n_jobs == 0 and out.rdd.getNumPartitions() == target
    wide = spark.range(0, 200, 1, target + 2)  # a leaf with more splits
    assert fan_out(wide).rdd.getNumPartitions() == target + 2
