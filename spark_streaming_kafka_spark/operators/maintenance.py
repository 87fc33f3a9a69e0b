"""Table maintenance: small-file compaction and range clustering.

A 100 TB table is only as fast as its layout. Streaming ingest
(streaming/pipelines.py) and per-batch sinks (SURVEY.md X3) produce one
file per micro-batch per partition — after a week, millions of small
files whose per-file open/footer cost dominates every scan. The two
operators here are the standard periodic fixes:

- :func:`compact_parquet` — rewrite a parquet dataset into files sized
  for the scanner (default 128 MB, the classic HDFS/S3 sweet spot where
  footer+open overhead amortizes but a straggling file doesn't pin a
  task). File count is computed from the dataset's actual on-disk
  bytes, not row counts, so compaction is layout-driven.
- :func:`cluster_for_skipping` — repartitionByRange + sortWithinParts
  on the filter columns, so every output file covers a narrow,
  non-overlapping key range and parquet row-group min/max stats let a
  pushed-down filter skip whole files (the poor man's Z-order: exact
  skipping on the leading column, correlated skipping on the rest).

Neither operator changes query results — they are pure layout rewrites,
verified by row-count + content equality in tests.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

#: Scanner-friendly target: big enough to amortize open/footer cost,
#: small enough that one file ≈ one task's comfortable input.
DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def dataset_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes of a dataset directory (Hadoop FS summary —
    works for any FS Spark can read: local, HDFS, S3A)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(hpath).getLength())


def plan_file_count(
    spark: SparkSession, path: str, target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES
) -> int:
    """How many output files a compaction should produce: on-disk bytes
    / target, minimum 1. Parquet-to-parquet rewrites keep roughly the
    same compressed size, so input bytes are the honest estimator (row
    counts are not — compression ratio varies wildly by column)."""
    return max(1, math.ceil(dataset_bytes(spark, path) / target_file_bytes))


def cluster_for_skipping(
    df: DataFrame, cols: list[str], num_partitions: int | None = None
) -> DataFrame:
    """Range-cluster ``df`` on ``cols`` so a subsequent parquet write
    yields files with narrow, non-overlapping ranges on ``cols[0]``
    (and correlated ranges on the rest): pushed-down filters then skip
    whole files/row-groups via min/max stats instead of scanning.

    repartitionByRange samples the data to build balanced range bounds
    (skew-resistant by construction); sortWithinPartitions keeps every
    ROW GROUP inside each file narrow too. Both are one shuffle — the
    same cost a plain repartition-based compaction pays anyway.
    """
    rp = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions is not None
        else df.repartitionByRange(*cols)
    )
    return rp.sortWithinPartitions(*cols)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    cluster_by: list[str] | None = None,
) -> int:
    """Rewrite the parquet dataset at ``src`` into ``dst`` with
    scanner-sized files; returns the planned file count.

    Without ``cluster_by`` the rewrite is a round-robin repartition
    (balanced files, no ordering promise). With it, files are
    range-clustered for data skipping (:func:`cluster_for_skipping`).
    Writes to a NEW directory: the swap (rename over ``src``) is left
    to the caller's catalog/transaction layer — an in-place overwrite
    that dies mid-write destroys the table, so this operator refuses to
    own that risk.
    """
    n = plan_file_count(spark, src, target_file_bytes)
    df = spark.read.parquet(src)
    out = (
        cluster_for_skipping(df, cluster_by, n)
        if cluster_by
        else df.repartition(n)
    )
    out.write.mode("error").parquet(dst)
    return n

