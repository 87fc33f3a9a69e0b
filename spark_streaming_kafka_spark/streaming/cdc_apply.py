"""Streaming CDC apply: upsert each micro-batch into a keyed parquet
base — MERGE-shaped ingestion without a transactional table format.

The batch operator is :func:`..operators.cdc.upsert`; this module owns
the streaming concerns a nightly/continuous changefeed adds:

- **In-batch collapse**: a micro-batch can carry several changes for
  one key; only the latest (by ``order_col``) may win before the merge.
- **Atomic snapshot swap**: parquet cannot be mutated in place, so each
  batch writes a NEW versioned snapshot directory and then atomically
  re-points a tiny ``_CURRENT`` pointer file. Readers resolve the
  pointer first — they never observe a half-written snapshot.
- **Replay idempotence**: Structured Streaming re-runs the last
  uncommitted batch after a crash with the SAME batch_id; version
  directories are named by batch_id and written with overwrite, so a
  replay rewrites its own snapshot and re-points the same pointer —
  exactly-once output without a log.

Scale note: the merge broadcasts the batch's key set (see
:func:`..operators.cdc.upsert`), so the base never shuffles; each
version still rewrites the full base, which is correct and simple but
write-amplified. Rewriting only partitions containing changed keys
(:func:`..operators.cdc.snapshot_diff`) keeps the pointer-swap
mechanics, so that upgrade is local to the write step.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cdc import upsert

POINTER = "_CURRENT"
# Exactly the shape cdc_upsert_sink writes: f"v{batch_id:012d}".
_VERSION_RE = re.compile(r"v\d{12}")


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def read_pointer(spark: SparkSession, base_path: str) -> str | None:
    """Current snapshot directory name, or None before the first batch.
    FS-agnostic (local/HDFS/S3A via the Hadoop FileSystem API)."""
    jvm, fs = _fs(spark, base_path)
    p = jvm.org.apache.hadoop.fs.Path(f"{base_path}/{POINTER}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        raw = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        ).decode()
    finally:
        stream.close()
    return raw.strip() or None


def _write_pointer(spark: SparkSession, base_path: str, version: str) -> None:
    """Overwrite the pointer file. HDFS create(overwrite) is atomic at
    the namenode; for plain local FS the window is a single tiny write
    — the snapshot directories themselves are immutable either way."""
    jvm, fs = _fs(spark, base_path)
    p = jvm.org.apache.hadoop.fs.Path(f"{base_path}/{POINTER}")
    out = fs.create(p, True)
    try:
        out.write(bytearray(version.encode()))
    finally:
        out.close()


def current_snapshot(
    spark: SparkSession, base_path: str
) -> DataFrame | None:
    """The live base table (pointer-resolved), or None if empty."""
    v = read_pointer(spark, base_path)
    if v is None:
        return None
    return spark.read.parquet(f"{base_path}/{v}")


def latest_per_key(
    updates: DataFrame, key: str, order_col: str
) -> DataFrame:
    """Collapse a changefeed batch to one row per key: highest
    ``order_col`` wins; exact order ties break deterministically on a
    hash of the row's JSON encoding — one narrow sort key that works
    for ANY column types (ordering by the raw payload columns would
    fail analysis on unorderable types like map, a common CDC
    attributes shape)."""
    others = [c for c in updates.columns if c not in (key, order_col)]
    tiebreak = (
        F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in others])))
        if others
        else F.lit(0)  # (key, order) rows: exact ties are identical rows
    )
    w = Window.partitionBy(key).orderBy(
        F.col(order_col).desc(), tiebreak.desc()
    )
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def prune_versions(
    spark: SparkSession, base_path: str, keep_versions: int = 2
) -> list[str]:
    """Delete superseded snapshot directories, keeping the newest
    ``keep_versions`` up to and including the pointer target (never a
    version the pointer names, never anything newer than it — a
    concurrent writer's in-flight dir is always newer). Returns the
    deleted names."""
    cur = read_pointer(spark, base_path)
    if cur is None:
        return []
    jvm, fs = _fs(spark, base_path)
    root = jvm.org.apache.hadoop.fs.Path(base_path)
    # Match ONLY this sink's exact version-dir shape (v + 12 digits, the
    # f"v{batch_id:012d}" written below) — a stray user directory that
    # merely starts with 'v' (e.g. 'vacuum_tmp') must never be deleted.
    versions = sorted(
        st.getPath().getName()
        for st in fs.listStatus(root)
        if st.isDirectory() and _VERSION_RE.fullmatch(st.getPath().getName())
    )
    committed = [v for v in versions if v <= cur]
    doomed = committed[:-keep_versions] if keep_versions > 0 else committed[:-1]
    for v in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{base_path}/{v}"), True)
    return doomed


def cdc_upsert_sink(
    base_path: str,
    key: str,
    order_col: str,
    keep_versions: int = 2,
):
    """foreachBatch handler: collapse the batch to latest-per-key,
    upsert into the current snapshot, publish as the next version,
    prune superseded versions.

    ``keep_versions`` bounds storage: each publish retains
    that many committed snapshots (≥1; the pointer target is never
    deleted) — without pruning a 1 s-trigger stream writes a full base
    copy per batch forever. Keep ≥2 so a reader that resolved the
    pointer just before a publish can still finish its scan.

    Use: ``stream.writeStream.foreachBatch(cdc_upsert_sink(path, "id",
    "ts")).option("checkpointLocation", ...)``.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        version = f"v{int(batch_id):012d}"
        # The pointer swap is the COMMIT MARKER (it happens only after
        # the snapshot write completes). cur == version ⇒ genuine
        # crash-replay of the last batch (Structured Streaming only
        # ever replays the final uncommitted batch): idempotent no-op.
        # cur > version is IMPOSSIBLE from replay — it means the query
        # restarted with a fresh checkpoint (batch ids reset to 0)
        # against an existing base, where silently skipping would drop
        # every batch until the new ids catch up. Fail loudly.
        cur = read_pointer(spark, base_path)
        if cur is not None:
            if cur == version:
                return
            if cur > version:
                raise ValueError(
                    f"batch {batch_id} is older than the committed pointer "
                    f"{cur!r} at {base_path} — this is a NEW query "
                    "incarnation (checkpoint reset) writing into an "
                    "existing base. Resume with the original checkpoint, "
                    "or point the sink at a fresh base_path, or seed the "
                    "new checkpoint past the committed version."
                )
        delta = latest_per_key(batch, key, order_col)
        base = current_snapshot(spark, base_path)
        merged = delta if base is None else upsert(base, delta, key)
        merged.write.mode("overwrite").parquet(f"{base_path}/{version}")
        _write_pointer(spark, base_path, version)
        prune_versions(spark, base_path, keep_versions)

    return sink
