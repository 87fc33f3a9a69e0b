"""Relational core: projections, filters, joins, aggregations, top-k, set
ops (SURVEY.md §2.2–2.6).

Each function maps one or more reference operators (cited per-function) to
declarative DataFrame algebra so Catalyst gets full optimization latitude:
predicate pushdown, column pruning, join reordering, partial aggregation,
TakeOrderedAndProject, broadcast selection, and AQE runtime re-planning
all apply automatically because nothing here drops to RDDs or drains
results through the driver.

Scale doctrine baked into the signatures:

- Small dimension sides are wrapped in ``broadcast()`` at the call site
  (J1/J2/J5 class): a 214-row catalog — or a 5-row region table — must
  never force a shuffle of the fact table.
- "NOT IN <driver list>" (reference P7, ``spark_kafka.py:108-110``) is an
  anti-join here: the reference's closure-captured Python list breaks
  beyond driver memory *and* contained an exhausted-generator bug; an
  anti-join is correct and shuffle-planned (or broadcast if small).
- Deterministic dedup (P9) keeps the min-ordered row per key via a window
  instead of ``dropDuplicates``'s arbitrary pick, so results are stable
  across partitionings — a requirement for both the oracle check and any
  re-run reproducibility story on a cluster.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --- joins (J1–J6) ------------------------------------------------------

def join_facts_to_dims(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, str | list[str]]],
) -> DataFrame:
    """N-way fact⋈dim join with every dim broadcast (J1/J2/J5 class;
    reference chained RDD joins at ``engine.py:45``).

    Broadcast hash join: each executor gets the dim once; the fact table
    is never shuffled. This is THE difference between O(fact) scan and
    O(fact) shuffle at 100 TB.
    """
    out = fact
    for dim, keys in dims:
        out = out.join(F.broadcast(dim), keys)
    return out


def anti_join(left: DataFrame, right: DataFrame, keys: str | list[str]) -> DataFrame:
    """Rows of ``left`` with no key-match in ``right`` (J6/P7).

    Replaces the reference's driver-side NOT-IN list (with its
    exhausted-generator bug, ``spark_kafka.py:108``). Plans as broadcast
    anti join when ``right`` is small, shuffle anti join otherwise.
    """
    return left.join(right, keys, "left_anti")


def semi_join(left: DataFrame, right: DataFrame, keys: str | list[str]) -> DataFrame:
    """EXISTS-style filter; never duplicates left rows like an inner join
    against a non-unique right would."""
    return left.join(right, keys, "left_semi")


# --- aggregations (A1–A6) ----------------------------------------------

def counts_and_averages(
    df: DataFrame, key: str | list[str], value: str
) -> DataFrame:
    """Per-key count + mean (A1; reference ``get_counts_and_averages`` at
    ``engine.py:9-14`` via groupByKey, which shuffles every raw value).

    ``groupBy().agg()`` plans hash aggregation with map-side partial
    aggregates — shuffle traffic is one row per (partition, key), not one
    row per input row.
    """
    keys = [key] if isinstance(key, str) else list(key)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_ratings"),
        F.avg(value).alias("avg_rating"),
    )


def grouped_sum(df: DataFrame, key: str, value: str, alias: str = "total") -> DataFrame:
    """A3 — pandas ``groupby().sum()`` rebuilt as hash agg."""
    return df.groupBy(key).agg(F.sum(value).alias(alias))


def rmse(df: DataFrame, actual: str, predicted: str) -> float:
    """Global RMSE (A4/J3; reference ``spark_music.py:35-37``)."""
    row = df.select(
        F.sqrt(F.avg(F.pow(F.col(actual) - F.col(predicted), 2))).alias("rmse")
    ).first()
    return float(row["rmse"])


def word_count(df: DataFrame, text_col: str = "value", sep: str = " ") -> DataFrame:
    """A2/P10 — tokenize + count. Works identically on batch and
    streaming DataFrames (streaming: pair with update/complete mode)."""
    return (
        df.select(F.explode(F.split(F.col(text_col), sep)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .count()
    )


def quantiles(df: DataFrame, value: str, probs: Sequence[float]) -> DataFrame:
    """Global quantiles (A6/F7): the reference's pandas
    linear-interpolation semantics via ``percentile``."""
    return df.select(
        F.expr(
            f"percentile({value}, array({', '.join(str(p) for p in probs)}))"
        ).alias("quantiles")
    )


# --- filters / projections / dedup (P5–P9) ------------------------------

def dedup_by_key(
    df: DataFrame, keys: str | list[str], order_by: str | list[str]
) -> DataFrame:
    """Deterministic one-row-per-key (P9): keeps the first row per key
    under ``order_by`` ascending. Window + row_number plans as a single
    shuffle on ``keys``; no driver involvement."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def distinct_pairs(df: DataFrame, cols: list[str]) -> DataFrame:
    """P8 — project + distinct (hash agg, partial combine)."""
    return df.select(*cols).distinct()


# --- top-k / sorts (T1–T3) ---------------------------------------------

def top_k(
    df: DataFrame, order: Sequence[Column], k: int
) -> DataFrame:
    """Global top-k (T1/T2; reference ``takeOrdered(25, -rating)``).

    ``orderBy().limit(k)`` is rewritten by Spark to
    TakeOrderedAndProject: each partition keeps a k-row heap, the driver
    merges P heaps — O(n) scan, no global sort, no full shuffle. Always
    pass a total order (unique tiebreaker column) so results are
    deterministic under any partitioning.
    """
    return df.orderBy(*order).limit(k)


# --- set ops (U1) -------------------------------------------------------

def union_ratings(history: DataFrame, new: DataFrame) -> DataFrame:
    """U1 — append by column NAME (``unionByName``), not position; the
    reference's positional RDD union silently mis-merges reordered
    inputs."""
    return history.unionByName(new)


def intersect_keys(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Key-level INTERSECT (set semantics): distinct key tuples present
    in BOTH inputs. Absent from the reference (SURVEY §2.6 — "no
    intersect/except"); supported here via the built-in, which Catalyst
    plans as a left-semi hash join over pre-aggregated keys — both
    sides shuffle only their distinct key sets."""
    return a.select(*keys).intersect(b.select(*keys))


def except_keys(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Key-level EXCEPT (set semantics): distinct key tuples of ``a``
    absent from ``b`` — planned as a left-anti hash join over distinct
    keys, the scalable NOT-IN (same rewrite as P7's anti-join)."""
    return a.select(*keys).subtract(b.select(*keys))
