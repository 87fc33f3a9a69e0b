"""Streaming incremental dedup against persisted manifests — the
streaming twin of ``curation.manifest_dedup`` (exact tier) and
``dedup.minhash_manifest_matches`` (near-dup tier).

The production loop this wires: a document stream lands in
micro-batches; each batch is (1) exact-deduped against the hash
manifest and within itself, (2) its survivors near-dup-checked against
the signature manifest, and (3) the kept documents handed to the
caller's sink while BOTH manifests grow by exactly the kept rows — so
batch N+1 deduplicates against everything batch N kept, and a restart
resumes from the persisted manifests rather than rescanning history.

State lives in the manifests (plain parquet the caller owns), not the
state store: the checkpoint carries only source offsets, and each
batch's manifest growth lands in its OWN ``batch_id=N`` partition,
dynamically overwritten — so a crash-replayed batch (a) does not read
its failed attempt's partition back as "history" (which would make the
batch drop itself and silently deliver nothing), and (b) rewrites the
identical partition instead of double-growing the manifest. Replay is
therefore exactly-once into the manifests and at-least-once into
``on_kept`` (pair it with an idempotent downstream sink, e.g.
``sinks.idempotent_parquet_sink``).

Batch/streaming parity is by construction: the batch operators run
verbatim inside ``foreachBatch`` — ``manifest_dedup`` for tier 1, and
for tier 2 the signature pass and signature-level band join that
``minhash_manifest_matches`` composes, called separately so that the
batch's one set of signatures also becomes its manifest growth.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..operators.curation import manifest_dedup
from ..operators.dedup import (
    _signature_matches,
    _unpersist_rdds,
    minhash_signatures,
)

__all__ = ["incremental_dedup_sink"]

#: the gate's MinHash shape — minhash_manifest_matches' defaults, which
#: the manifest's signatures were always written with
_NUM_PERM, _BANDS = 32, 16


def incremental_dedup_sink(
    spark: SparkSession,
    hash_manifest_path: str,
    sig_manifest_path: str,
    on_kept: Callable[[DataFrame, int], None],
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` callable implementing the two-tier
    incremental dedup loop. ``on_kept(kept_df, batch_id)`` receives the
    batch's surviving documents (exact-fresh AND not a near-dup of any
    manifest signature); the manifests at the two paths are read at
    batch start and appended at batch end. ``kept_df`` is valid for the
    duration of the call: the batch's blocks are released when the sink
    returns. An empty batch calls nothing and writes nothing.

    Scale: per batch, the hash manifest contributes one anti-join (16
    B/doc history; bloom-prefilterable) and the signature manifest one
    band-key join (256 B/doc history) — history is never re-read as
    text. The batch's own work is one signature pass over its
    exact-fresh documents: the persisted signatures feed the band join
    and, filtered to the kept rows, the signature manifest's growth.
    """

    def _read_manifest(path: str, schema: str, batch_id: int) -> DataFrame | None:
        # The schema is given, so the read infers nothing (no footer
        # job). Exclude the CURRENT batch id: on crash-replay the
        # failed attempt's manifest partition already exists, and
        # reading it would make the batch see ITSELF as history — tier
        # 1 would drop every row and the replay would deliver nothing
        # downstream (silent data loss). Filtering on the partition
        # column prunes, never scans, the excluded directory.
        try:
            return (
                spark.read.schema(f"{schema}, batch_id long")
                .parquet(path)
                .filter(F.col("batch_id") != batch_id)
            )
        except AnalysisException as exc:
            # ONLY the first-batch no-manifest case may fail open (None:
            # no history, so that tier has nothing to check). Any other
            # read failure (permissions, storage outage) must abort the
            # batch — failing open there would silently disable dedup
            # history and let duplicates flow to on_kept AND into the
            # manifests permanently.
            msg = str(exc).lower()
            if "path_not_found" in msg or "path does not exist" in msg:
                return None
            raise

    def _write_manifest(df: DataFrame, path: str, batch_id: int) -> None:
        # One partition directory per batch, OVERWRITTEN on replay —
        # the same kept rows are recomputed (the dedup read above is
        # deterministic given prior batches), so a replayed write is
        # byte-idempotent instead of double-growing the manifest.
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        id_type = batch_df.schema[id_col].dataType.simpleString()
        hashes = _read_manifest(hash_manifest_path, "text_hash string", batch_id)
        sigs = _read_manifest(
            sig_manifest_path,
            f"doc_id {id_type}, signature array<bigint>",
            batch_id,
        )

        # tier 1: exact — drop manifest-seen texts, dedup within batch
        if hashes is None:
            hashes = spark.sql(
                "SELECT CAST(NULL AS STRING) AS text_hash WHERE false"
            )
        fresh_keys = manifest_dedup(batch_df, hashes, text_col, id_col)
        # A checkpoint, not a cache: writing the hash manifest re-caches
        # every cached plan that reads it, which would recompute tier 1
        # (and everything built on it) for the signature manifest's
        # write. The checkpoint's plan reads no manifest.
        fresh = batch_df.join(
            F.broadcast(fresh_keys.select(id_col)), id_col
        ).localCheckpoint(eager=False)
        fresh_rdd = fresh._jdf.queryExecution().logical().rdd()
        signed = kept = None
        try:
            # one job: materializes the checkpoint and counts it
            if fresh_rdd.count() == 0:
                # nothing new: an empty batch ends here; a batch whose
                # every row is in the manifest still reports its empty
                # kept set, and either way no manifest grows
                if not batch_df.isEmpty():
                    on_kept(fresh, batch_id)
                return
            # the batch's one signature pass: its signatures feed the
            # band join and the signature manifest's growth
            signed = minhash_signatures(
                fresh, _NUM_PERM, text_col=text_col, id_col=id_col
            ).persist()
            kept = fresh
            # tier 2: near-dup vs the signature manifest (none on the
            # first batch, so nothing to match)
            if sigs is not None:
                near = _signature_matches(
                    signed, sigs.select("doc_id", "signature"),
                    threshold, _NUM_PERM, _BANDS,
                )
                kept = fresh.join(
                    F.broadcast(near.select(F.col("doc_id").alias(id_col))),
                    id_col,
                    "left_anti",
                ).persist()
            kept_sigs = signed if kept is fresh else signed.join(
                F.broadcast(kept.select(F.col(id_col).alias("doc_id"))),
                "doc_id",
                "left_semi",
            )
            on_kept(kept, batch_id)
            # grow both manifests by exactly the kept rows; the signature
            # manifest last, since writing it re-caches ``kept`` (which
            # reads it)
            _write_manifest(
                kept.select(F.md5(F.col(text_col)).alias("text_hash")),
                hash_manifest_path,
                batch_id,
            )
            _write_manifest(kept_sigs, sig_manifest_path, batch_id)
        finally:
            for df in (kept, signed):
                if df is not None and df is not fresh:
                    df.unpersist()
            _unpersist_rdds(spark.sparkContext, {fresh_rdd.id()})

    return sink
