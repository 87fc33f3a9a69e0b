"""Layout maintenance (operators/maintenance.py): compaction rewrites
preserve content; range clustering yields non-overlapping file ranges
that parquet min/max skipping can use."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from spark_streaming_kafka_spark.operators.maintenance import (
    cluster_for_skipping,
    compact_parquet,
    plan_file_count,
)


def _part_files(path):
    return sorted(glob.glob(os.path.join(path, "part-*.parquet")))


def test_compaction_reduces_files_and_preserves_content(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 10000).withColumn("v", F.col("id") % 97)
    df.repartition(64).write.parquet(src)  # fragmented ingest
    assert len(_part_files(src)) == 64

    n = compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    assert n == 1 and len(_part_files(dst)) == 1
    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    assert b.count() == 10000
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_plan_file_count_tracks_bytes(spark, tmp_path):
    src = str(tmp_path / "t")
    spark.range(0, 50000).withColumn("s", F.md5(F.col("id").cast("string"))).write.parquet(src)
    total = sum(os.path.getsize(f) for f in _part_files(src))
    assert plan_file_count(spark, src, target_file_bytes=total // 3 + 1) in (3, 4)
    assert plan_file_count(spark, src, target_file_bytes=1 << 40) == 1


def test_cluster_for_skipping_disjoint_file_ranges(spark, tmp_path):
    src, dst = str(tmp_path / "s2"), str(tmp_path / "d2")
    # shuffled key order on ingest — worst case for min/max stats
    spark.range(0, 20000).select(
        F.xxhash64("id").alias("key"), F.col("id").alias("payload")
    ).repartition(16).write.parquet(src)

    compact_parquet(spark, src, dst, target_file_bytes=64 * 1024, cluster_by=["key"])
    files = _part_files(dst)
    assert len(files) >= 2

    ranges = []
    for f in files:
        mm = spark.read.parquet(f).agg(F.min("key"), F.max("key")).first()
        ranges.append((mm[0], mm[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # non-overlapping: min/max stats can skip files
