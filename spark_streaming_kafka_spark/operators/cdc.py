"""Snapshot-delta operators: diff and upsert between table versions.

Incremental pipelines at 100 TB re-process deltas, not snapshots: the
nightly ingest produces a new version of a keyed table, and everything
downstream wants "what changed" (to re-embed only changed documents,
re-dedup only added ones) and "apply these updates" (upsert without a
transactional table format). These two operators are that contract in
plain DataFrame algebra — no Delta/Iceberg dependency, deterministic,
oracle-verifiable.

Scale shape — the whole point of the implementation:

- :func:`snapshot_diff` compares ROW HASHES, not rows: each side
  reduces to ``(key, md5(canonical row))`` at the scan, so the full
  outer join shuffles ~40 bytes/row regardless of row width (a wide
  document row never crosses the wire). Hash equality stands in for
  value equality with md5's collision odds (~n²/2¹²⁸ — the same
  trade exact_dedup makes).
- :func:`upsert` is one full outer join on the key: update rows win,
  base rows survive untouched, brand-new keys append. With both sides
  bucketed/partitioned by key on disk this is the sort-merge join a
  lakehouse MERGE compiles to anyway; updates are usually small, so
  AQE broadcasts them and the base never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _row_hash(df: DataFrame, key: str, cols: list[str]) -> DataFrame:
    """(key, h) with h = md5 over the null-tagged canonical encoding of
    ``cols`` (fixed order, '\\x01' separator, NULL → '\\x00NULL' tag so
    (NULL, 'x') never collides with ('', 'x') or a value containing the
    separator-free text 'NULL')."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in cols
    ]
    return df.select(
        F.col(key), F.md5(F.concat_ws("\x01", *parts)).alias("h")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed diff of two snapshot versions → ``(key, change)`` with
    change ∈ {'added', 'removed', 'changed'}; unchanged keys are
    omitted (at scale they are ~all keys — the output is delta-sized).

    One full outer join of the two hash-reduced sides (40-byte rows);
    ``compare_cols`` defaults to every non-key column of ``old``.
    Assumes ``key`` is unique per snapshot (a snapshot invariant the
    caller owns — enforce upstream with exact_dedup/dedup_by_key).
    """
    compare_cols = compare_cols or [c for c in old.columns if c != key]
    a = _row_hash(old, key, compare_cols).withColumnRenamed("h", "__ha")
    b = _row_hash(new, key, compare_cols).withColumnRenamed("h", "__hb")
    j = a.join(b, key, "full_outer")
    change = (
        F.when(F.col("__ha").isNull(), F.lit("added"))
        .when(F.col("__hb").isNull(), F.lit("removed"))
        .when(F.col("__ha") != F.col("__hb"), F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(key, "change")
    )


def upsert(
    base: DataFrame,
    updates: DataFrame,
    key: str,
) -> DataFrame:
    """MERGE without a table format: rows from ``updates`` replace
    same-key rows of ``base`` whole-row; new keys append; all other
    base rows pass through. Both inputs must share the schema; ``key``
    unique on each side.

    Formulated as anti-join + union — NOT a full outer join — because
    full outer cannot broadcast (Spark plans it sort-merge even for a
    10-row delta): ``base ▷ update_keys`` drops the superseded rows
    with a LEFT ANTI join that broadcasts the delta's key set, then the
    delta unions in unchanged. The base never shuffles and never
    rewrites untouched rows' bytes — the delta-sized cost a 100 TB
    nightly merge requires. (Whole-row replacement falls out for free:
    superseded base rows are gone, so no per-column coalesce can
    resurrect their values.)
    """
    survivors = base.join(F.broadcast(updates.select(key)), key, "left_anti")
    return survivors.unionByName(updates.select(*base.columns))


def merge_additive_aggregates(
    agg: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
    add_cols: list[str],
) -> DataFrame:
    """Incremental maintenance of an ADDITIVE aggregate table: fold a
    delta's pre-aggregated contributions into the standing aggregate
    without touching the history — ``new = old ⊎ delta`` where ⊎ sums
    ``add_cols`` per key (sums, counts; any commutative-monoid
    measure). Avg/stddev maintain as (sum, count[, sumsq]) pairs and
    derive at read; quantiles/distincts need sketches (t-digest, HLL)
    — not this operator.

    This is the 100 TB reporting pattern: the standing aggregate is
    dimension-sized, the delta is batch-sized, and the merge is a
    union + hash re-aggregation over ONLY those two — the fact history
    is never rescanned. Retractions are just negative contributions
    (a removed row's delta is its negated measures).
    """
    u = agg.select(*keys, *add_cols).unionByName(
        delta_agg.select(*keys, *add_cols)
    )
    return u.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in add_cols]
    )


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    attr_col: str,
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Build a slowly-changing-dimension Type-2 history from a change
    stream: collapse consecutive identical attribute observations into
    effective-dated versions.

    The dimension-building counterpart of :func:`snapshot_diff` — that
    answers "what changed between two snapshots", this answers "what
    was the value at time T" given EVERY observation. Each key's
    observations are compressed to the rows where ``attr_col`` actually
    changed; each surviving row gets ``effective_from_ms`` (its own
    timestamp), ``effective_to_ms`` (the NEXT change's timestamp; NULL
    while current), and a 1-based ``version``.

    Two window functions over ONE (ts, tiebreak)-ordered key window, so
    the cost is a single hash-partition shuffle on ``key_cols`` —
    lag to find change points, then lead/row_number on the filtered
    change rows (Catalyst keeps both in the same sort since the
    filter preserves the partitioning). NULL attribute values are
    legal and compared null-safely (NULL → non-NULL counts as a
    change). Deterministic under any partitioning.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    prev = F.lag(F.col(attr_col)).over(w)
    prev_seen = F.lag(F.lit(1)).over(w)
    is_change = prev_seen.isNull() | ~F.col(attr_col).eqNullSafe(prev)
    changed = (
        changes.select(
            *key_cols,
            F.col(attr_col),
            F.unix_millis(F.col(ts_col)).alias("effective_from_ms"),
            F.col(tiebreak_col).alias("__tb"),
            is_change.alias("__chg"),
        )
        .filter(F.col("__chg"))
        .drop("__chg")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(
        F.col("effective_from_ms").asc(), F.col("__tb").asc()
    )
    return changed.select(
        *key_cols,
        F.col(attr_col),
        "effective_from_ms",
        F.lead("effective_from_ms").over(w2).alias("effective_to_ms"),
        F.row_number().over(w2).cast("int").alias("version"),
    )
