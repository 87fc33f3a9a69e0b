"""Skew-resilient large×large joins (salting).

AQE's skew-join splitting handles most skew automatically (enabled in
session.py); salting is the explicit fallback for the cases AQE can't
fix — e.g. one key holding >5% of a 100 TB fact table, or skew in the
BUILD side of an aggregate-after-join.

Mechanism: the skewed ("big") side gets a random-ish salt in
[0, factor); the other side is exploded ×factor so every salted key
still finds its match. The join key becomes (key, salt) — the hot key's
rows now spread over ``factor`` reducers. Cost: other-side rows
duplicated ×factor (choose the SMALLER side to explode), so factor is a
dial between skew relief and shuffle inflation.

The salt must be deterministic for retry-safety (Spark may recompute a
partition after failure; a nondeterministic salt would double-join some
rows and drop others): derived from stable row columns via xxhash64,
never rand().
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: a physical-plan node in a tree string: the first word after the tree
#: markers and an optional whole-stage-codegen tag ("*(2) ")
_PLAN_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\) )?(\w+)", re.M)


def _has_exchange(df: DataFrame) -> bool:
    """True when ``df``'s physical plan (a cached relation's plan
    included) shuffles, broadcasts or is adaptive (AQE wraps a plan
    only for an exchange or a subquery) — read from the plan, nothing
    executed."""
    tree = df._jdf.queryExecution().executedPlan().toString()
    return any(
        n.endswith("Exchange") or n == "AdaptiveSparkPlan"
        for n in _PLAN_NODE.findall(tree)
    )


def fan_out(df: DataFrame, per_core: int = 1) -> DataFrame:
    """Repartition ``df`` up to ``per_core × defaultParallelism`` — but
    ONLY if the current plan has fewer partitions than that.

    CPU-heavy per-row expansions (shingle explode, per-token hashing,
    pandas UDFs) inherit the scan's partitioning. A 100 TB scan arrives
    in thousands of splits and this is a no-op; a small file (one parquet
    row group — unsplittable) arrives as ONE partition and would pin the
    whole stage to one core. The round-robin shuffle this inserts moves
    only the small input, never the exploded intermediate.

    The decision runs no Spark job. A plan that shuffles or broadcasts
    learns its partition count only by running (AQE executes its query
    stages to coalesce them, and an uncached input then runs that work
    again for the real query), so such a plan is repartitioned to the
    target without asking; a plan of leaf scans and narrow operators
    knows its count up front and keeps the check.

    ``per_core=1`` (one task per core): these stages are CPU-bound with
    uniform per-row cost, so extra waves buy no balance and pay task
    launch/deserialize overhead — 2 tasks/core measured ~20% slower on
    the minhash signature stage (straggler insurance is AQE's job, and
    an unsplittable small input has no stragglers to insure against).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * per_core
    if _has_exchange(df):
        return df.repartition(target)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    factor: int = 8,
    salt_from: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``key`` with ``big`` salted
    ``factor`` ways and ``small`` exploded to match.

    ``salt_from``: columns of ``big`` that determine the salt (defaults
    to all of big's columns) — deterministic per row, uniform enough to
    spread a hot key.
    """
    if how not in ("inner", "left", "leftouter", "left_outer", "left_semi",
                   "leftsemi", "left_anti", "leftanti"):
        # the salt-explode construction replicates every SMALL row
        # `factor` ways, so any join that PRESERVES the small side
        # (right/full) would emit factor-1 spurious null-padded copies
        # per small row — reject instead of corrupting
        raise ValueError(
            f"salted_join supports inner/left/semi/anti joins, not {how!r} "
            "(right/full would duplicate the preserved small side "
            "factor-fold; salt the other input instead)"
        )
    salt_cols = salt_from if salt_from is not None else big.columns
    salted_big = big.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(factor)).cast("int"),
    )
    exploded_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    )
    out = salted_big.join(exploded_small, [key, "__salt"], how)
    return out.drop("__salt")


def rendezvous_assign(
    df: DataFrame,
    id_col: str,
    shards: list[str],
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: every row
    gets the shard whose ``md5_long(id || '|' || shard)`` is largest
    (Thaler & Ravishankar 1996 — the placement rule behind consistent
    routing in distributed caches and storage).

    Why not ``hash(id) mod N``: resizing N→N+1 relocates ~100% of keys
    under mod but only ~1/(N+1) under rendezvous (a key moves only if
    the NEW shard's hash beats all its old ones) — the property that
    makes shard-local state (manifests, ANN cells, per-shard dedup
    indexes) survive a topology change. Pinned by test.

    Plan shape: map-only column algebra — an array of (hash, shard)
    structs reduced with ``array_max`` (struct ordering compares hash
    first; shard name breaks exact-collision ties deterministically).
    No shuffle, no UDF; N md5 evaluations per row, all codegen'd.
    Engine-portable: the DuckDB oracle reproduces the same argmax
    relationally.
    """
    from ..functions.hashing import md5_long

    if len(shards) != len(set(shards)):
        raise ValueError("duplicate shard names")
    c = F.col(id_col).cast("string")
    pairs = F.array(
        *[
            F.struct(
                md5_long(F.concat(c, F.lit("|" + s))).alias("h"),
                F.lit(s).alias("s"),
            )
            for s in shards
        ]
    )
    return df.withColumn(out_col, F.array_max(pairs)["s"])
