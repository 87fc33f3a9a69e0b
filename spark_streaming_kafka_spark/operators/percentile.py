"""W1 — per-group percentile bucketing (the reference ETL's rating
derivation, ``music_ETL.ipynb#cell9``).

The reference loops over users in driver-side pandas, computing
``Series.quantile([.2,.4,.6,.8])`` per user and mapping each listen_count
to a 1–5 level with an if/elif chain. Two rebuild variants:

- :func:`quantile_buckets` (Option A) reproduces the reference semantics
  exactly: per-group linear-interpolation quantiles (Spark ``percentile``
  uses the same formula as pandas' default) + a ``when`` chain on ``>=``
  boundaries. One hash-agg shuffle on the group key + a broadcast join of
  the per-group boundaries back onto the rows (no second shuffle).
- :func:`ntile_buckets` (Option B) is the idiomatic form — single window
  shuffle, no join — but differs from the reference on ties (ntile splits
  equal values across buckets; the reference gives equal values equal
  levels). Ship A for parity, B for speed.

Both are one shuffle by group key. A's quantile state is O(distinct
values) per group; B is always O(1) state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_quantiles(
    df: DataFrame,
    group: str,
    value: str,
    probs: Sequence[float] = (0.2, 0.4, 0.6, 0.8),
) -> DataFrame:
    """Per-group quantile vector (A6). Columns: group, q0..q{n-1}."""
    arr = ", ".join(str(p) for p in probs)
    qdf = df.groupBy(group).agg(
        F.expr(f"percentile({value}, array({arr}))").alias("__qs")
    )
    cols = [F.col(group)] + [
        F.col("__qs").getItem(i).alias(f"q{i}") for i in range(len(probs))
    ]
    return qdf.select(*cols)


def quantile_buckets(
    df: DataFrame,
    group: str,
    value: str,
    probs: Sequence[float] = (0.2, 0.4, 0.6, 0.8),
    out: str = "level",
) -> DataFrame:
    """Option A: label each row 1..len(probs)+1 by where ``value`` falls
    among its group's quantiles (``>=`` upper boundaries first, matching
    the reference's elif ordering).

    The quantile side (one ~40-byte row per GROUP) is broadcast, so the
    join-back is a shuffle-free map over ``df`` (~35% faster measured at
    sf0.1 — AQE does not reliably promote it because both shuffles
    already ran). The group count must stay bounded: the reference's
    user base (~1M users) is ~40 MB of boundaries, while billions of
    groups would fail the broadcast."""
    qs = F.broadcast(group_quantiles(df, group, value, probs))
    joined = df.join(qs, group)
    v = F.col(value)
    n = len(probs)
    # level = n+1 if v >= q_{n-1}, n if v >= q_{n-2}, ..., else 1
    chain = F.when(v >= F.col(f"q{n-1}"), F.lit(n + 1))
    for i in range(n - 2, -1, -1):
        chain = chain.when(v >= F.col(f"q{i}"), F.lit(i + 2))
    expr = chain.otherwise(F.lit(1))
    return joined.withColumn(out, expr).drop(*[f"q{i}" for i in range(n)])


def ntile_buckets(
    df: DataFrame,
    group: str,
    value: str,
    n: int = 5,
    out: str = "level",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Option B: ``ntile(n) OVER (PARTITION BY group ORDER BY value)``.
    Pass ``tiebreak`` columns for a total order ⇒ deterministic output."""
    order = [F.col(value).asc()] + [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(group).orderBy(*order)
    return df.withColumn(out, F.ntile(n).over(w))


def iqr_outliers(
    df: DataFrame,
    group: str,
    value: str,
    factor: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier detection per group: rows whose value falls
    outside ``[Q1 − factor·IQR, Q3 + factor·IQR]`` of their group — the
    robust-statistics screen (medians and quartiles, not moments, so a
    single extreme value can't drag its own fence) behind metric-feed
    validation and label-noise triage.

    Appends ``fence_lo`` / ``fence_hi`` (rounded to 6 — the fences are
    compared ROUNDED so an engine-parity 1e-16 interpolation wobble
    can't flip a boundary row) and keeps only the outliers.

    Plan: ONE exact-percentile hash aggregation produces the
    |groups|-row fence table, broadcast into the scan-side filter — the
    fact side never shuffles. At 100 TB swap ``percentile`` for
    ``percentile_approx`` (t-digest) if the per-group sort memory of
    exact percentiles bites; the fence semantics are unchanged.
    """
    q = df.groupBy(group).agg(
        F.expr(f"percentile({value}, array(0.25, 0.75))").alias("__q")
    )
    q1, q3 = F.col("__q").getItem(0), F.col("__q").getItem(1)
    fences = q.select(
        group,
        F.round(q1 - F.lit(factor) * (q3 - q1), 6).alias("fence_lo"),
        F.round(q3 + F.lit(factor) * (q3 - q1), 6).alias("fence_hi"),
    )
    v = F.col(value)
    return df.join(F.broadcast(fences), group).filter(
        (v < F.col("fence_lo")) | (v > F.col("fence_hi"))
    )


def mad_outliers(
    df: DataFrame,
    group: str,
    value: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Median-absolute-deviation outliers per group (Iglewicz–Hoaglin
    modified z-score): rows where |0.6745·(v − median)/MAD| exceeds
    ``threshold`` (3.5 is the published default). The heavier-duty
    sibling of :func:`iqr_outliers` — MAD's breakdown point is 50%, so
    the screen survives even a near-majority of corrupted values.

    Appends ``med``, ``mad``, and the ROUNDED ``mz`` (the filter
    compares the rounded score, so engine interpolation wobble can't
    flip a boundary row). Groups with MAD = 0 (a majority of identical
    values — every deviation would be infinitely outlying) are
    excluded, deliberately and visibly: degenerate groups need a
    different screen, not a division by zero.

    Plan: two dimension-sized exact-percentile aggregations (medians,
    then MADs of the deviations), each broadcast back — the fact side
    never shuffles. Swap ``percentile`` → ``percentile_approx`` at
    extreme group sizes, same trade as iqr_outliers.
    """
    med = df.groupBy(group).agg(
        F.expr(f"percentile({value}, 0.5)").alias("med")
    )
    dev = df.join(F.broadcast(med), group).withColumn(
        "__dev", F.abs(F.col(value) - F.col("med"))
    )
    mad = dev.groupBy(group).agg(F.expr("percentile(__dev, 0.5)").alias("mad"))
    scored = dev.join(
        F.broadcast(mad.filter(F.col("mad") > 0)), group
    ).withColumn(
        "mz",
        F.round(
            F.lit(0.6745) * (F.col(value) - F.col("med")) / F.col("mad"), 6
        ),
    )
    return scored.filter(F.abs(F.col("mz")) > threshold).drop("__dev")


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    tiebreak_cols: list[str] | None = None,
    buckets: int = 32,
) -> DataFrame:
    """Per-group weighted (lower) median: the smallest value whose
    cumulative weight reaches half the group's total weight.

    The quantity-weighted price question ("the price at which half the
    VOLUME cleared") that the row-weighted :func:`group_quantiles`
    cannot answer. Weights are rounded to integers and summed as longs,
    so every comparison is exact integer arithmetic — no float-order
    sensitivity between engines — and the cumulative sum is strictly
    increasing (weights are >= 1 after rounding, enforced by
    filtering), so exactly one row per group crosses the half-total
    boundary.

    **Scale path (default): bucket-pruned.** The naive formulation —
    one running-sum window per group — serializes each group into a
    single task, which at LOW group cardinality (the common case: 3
    return flags, a handful of segments) means three tasks sort the
    whole table. Instead: (1) one map-combined aggregate takes each
    group's min/max/total; (2) rows bucket by equal value width —
    pure column algebra; (3) a buckets-sized aggregate + prefix
    window finds the ONE bucket containing the crossing and its exact
    weight offset; (4) only that bucket's rows (~1/``buckets`` of the
    group under mild uniformity) are sorted for the final crossing.
    The result is EXACT for any boundary placement — equal values
    always share a bucket and the offset is an exact lower-bucket
    weight sum — so value skew can only fatten the crossing bucket
    (degrading toward the naive cost), never change the answer.
    ``buckets <= 1`` selects the direct single-window form (the
    oracle-shaped reference path).

    Returns (group, ``weighted_median``, ``total_weight``).
    """
    order = [F.col(value_col).asc()] + [
        F.col(c).asc() for c in (tiebreak_cols or [])
    ]
    wt = F.round(F.col(weight_col)).cast("long")
    base = df.filter(wt >= 1).select(
        F.col(group_col),
        F.col(value_col),
        wt.alias("__w"),
        *[F.col(c) for c in (tiebreak_cols or [])],
    )

    if buckets <= 1:
        w_run = (
            Window.partitionBy(group_col)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(group_col)
        cum = F.sum("__w").over(w_run)
        tot = F.sum("__w").over(w_all)
        return (
            base.select(
                F.col(group_col),
                F.col(value_col).alias("weighted_median"),
                cum.alias("__cum"),
                (cum - F.col("__w")).alias("__prev"),
                tot.alias("total_weight"),
            )
            .filter(
                (F.col("__cum") * 2 >= F.col("total_weight"))
                & (F.col("__prev") * 2 < F.col("total_weight"))
            )
            .drop("__cum", "__prev")
        )

    # (1) per-group min/max/total: one map-combined aggregate. Bucket
    # boundaries are EQUAL-WIDTH — boundaries only prune, they never
    # affect the answer, so the O(1)-per-row min/max beats a quantile
    # sketch whose per-row update cost exceeds the sort it saves
    # (measured: percentile_approx boundaries made the whole operator
    # 2.6x slower than the naive window at sf0.1). Value skew merely
    # fattens the crossing bucket, degrading toward the naive cost.
    bounds = base.groupBy(group_col).agg(
        F.min(value_col).alias("__lo"),
        F.max(value_col).alias("__hi"),
        F.sum("__w").alias("__tot"),
    )
    # (2) bucket by width; equal values always share a bucket, so global
    # (value, tiebreak) order is preserved across bucket indices.
    width = (F.col("__hi") - F.col("__lo")) / F.lit(buckets)
    bkt = F.when(width > 0, F.least(
        F.floor((F.col(value_col) - F.col("__lo")) / width),
        F.lit(buckets - 1),
    )).otherwise(F.lit(0)).cast("int")
    tagged = base.join(F.broadcast(bounds), group_col).select(
        group_col,
        value_col,
        "__w",
        *[F.col(c) for c in (tiebreak_cols or [])],
        bkt.alias("__bkt"),
        "__tot",
    )
    # (3) the crossing bucket per group + its exact weight offset.
    bsums = tagged.groupBy(group_col, "__bkt").agg(
        F.sum("__w").alias("__bsum"), F.max("__tot").alias("__tot")
    )
    w_pfx = (
        Window.partitionBy(group_col)
        .orderBy(F.col("__bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    target = (
        bsums.withColumn(
            "__off", F.coalesce(F.sum("__bsum").over(w_pfx), F.lit(0))
        )
        .filter(
            (F.col("__off") * 2 < F.col("__tot"))
            & ((F.col("__off") + F.col("__bsum")) * 2 >= F.col("__tot"))
        )
        .select(group_col, "__bkt", "__off")
    )
    # (4) sort ONLY the crossing bucket's rows for the exact answer.
    cand = tagged.join(F.broadcast(target), [group_col, "__bkt"])
    w_run = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.col("__off") + F.sum("__w").over(w_run)
    return (
        cand.select(
            F.col(group_col),
            F.col(value_col).alias("weighted_median"),
            cum.alias("__cum"),
            (cum - F.col("__w")).alias("__prev"),
            F.col("__tot").alias("total_weight"),
        )
        .filter(
            (F.col("__cum") * 2 >= F.col("total_weight"))
            & (F.col("__prev") * 2 < F.col("total_weight"))
        )
        .drop("__cum", "__prev")
    )


def _ranked_with_offsets(
    df: DataFrame,
    order_cols: Sequence,
    num_parts: int | None,
):
    """Range-partition on the order, count per partition (bounded
    collect), return (ranged_df_with___pid, offsets dict, total n)."""
    cols = [c if not isinstance(c, str) else F.col(c) for c in order_cols]
    parts = num_parts or df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint (lazy): repartitionByRange SAMPLES its boundaries,
    # and two executions of the same plan can sample DIFFERENT
    # boundaries (input split order varies) — offsets counted on one
    # materialization would then be wrong for the final run (observed:
    # ranks off by a partition's worth at sf0.01). Checkpointing pins
    # the counting job and the output to the SAME partitioning; blocks
    # are freed by the ContextCleaner when the result is GC'd.
    ranged = (
        df.repartitionByRange(parts, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    return ranged, cols, offsets, acc


def global_rank(
    df: DataFrame,
    order_cols: Sequence,
    out_col: str = "__grank",
    num_parts: int | None = None,
) -> DataFrame:
    """Exact GLOBAL row number under a total order — without the
    single-partition window trap.

    ``Window.partitionBy().orderBy(...)`` funnels the whole input into
    ONE task; this is the distributed two-pass form instead:
    range-repartition on the order columns (the same machinery a
    distributed orderBy uses), count rows per range partition (a
    bounded, partition-count-sized collect), broadcast the cumulative
    offsets back as a literal lookup, and add each partition's local
    ``row_number``. Identical output to the unpartitioned window for
    any TOTAL order (pass a unique tiebreaker — same rule every
    ranking in this package follows).

    NOTE: building runs one counting job (the offsets), like the other
    documented build-time constants (bm25, item_cooccurrence_topk).
    """
    ranged, cols, offsets, _n = _ranked_with_offsets(df, order_cols, num_parts)
    off_expr = (
        F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
            F.col("__pid"),
        )
        if offsets
        else F.lit(0)
    )
    local = F.row_number().over(Window.partitionBy("__pid").orderBy(*cols))
    return ranged.withColumn(out_col, (off_expr + local).cast("long")).drop(
        "__pid"
    )


def global_ntile(
    df: DataFrame,
    order_cols: Sequence,
    buckets: int,
    out_col: str = "tile",
    num_parts: int | None = None,
) -> DataFrame:
    """Exact global ``ntile(buckets)`` at any scale, value-identical to
    the SQL window function (the first ``n % buckets`` tiles get
    ``ceil(n / buckets)`` rows), built on the :func:`global_rank`
    machinery — one range repartition + one bounded counting job, never
    a single-partition window.

    Tile from (rank, n, b), all INTEGER arithmetic (``DIV``, exact in
    both engines at any n): with ``q = n div b``, ``m = n mod b``,
    ranks ``<= m*(q+1)`` land in tile ``ceil(rank/(q+1))``, the rest in
    ``m + ceil((rank - m*(q+1))/q)``.
    """
    ranged, cols, offsets, n = _ranked_with_offsets(df, order_cols, num_parts)
    off_expr = (
        F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
            F.col("__pid"),
        )
        if offsets
        else F.lit(0)
    )
    local = F.row_number().over(Window.partitionBy("__pid").orderBy(*cols))
    ranked = ranged.withColumn("__grank", (off_expr + local).cast("long"))
    q, m = divmod(n, buckets)
    if q == 0:
        tile = F.col("__grank")  # fewer rows than buckets: rank IS the tile
    else:
        head = m * (q + 1)
        # ceil(x / d) over positive longs = (x + d - 1) DIV d
        tile = F.when(
            F.col("__grank") <= F.lit(head),
            F.expr(f"(__grank + {q}) DIV {q + 1}"),
        ).otherwise(
            F.lit(m) + F.expr(f"(__grank - {head} + {q - 1}) DIV {q}")
        )
    return (
        ranked.withColumn(out_col, tile.cast("int"))
        .drop("__grank")
        .drop("__pid")
    )


def global_ntile_multi(
    df: DataFrame,
    specs: Sequence,
    buckets: int,
    tiebreak_col: str,
    num_parts: int | None = None,
) -> DataFrame:
    """Exact global ``ntile(buckets)`` under SEVERAL orderings of the
    same rows in ONE range shuffle and ONE counting job — the fused
    form of N chained :func:`global_ntile` passes (RFM-style scoring
    pays 3 of them; each pass costs a checkpoint materialization plus
    a bounded count job, and at dimension-table sizes those job
    barriers ARE the wall time).

    ``specs`` is a sequence of ``(key_column, out_col)`` pairs; each
    ordering is ``key ASC, tiebreak_col ASC`` with all keys cast to
    long (DESC orderings: pass the negated key). Every input row is
    exploded to one row per spec tagged ``(spec index, key)``, the
    union is range-partitioned ONCE on ``(index, key, tiebreak)`` —
    partitions may straddle two specs; the per-(spec, partition)
    offsets from the single bounded count job keep each spec's ranks
    exact — and the tiles are reassembled with one hash aggregation
    (each group holds len(specs) copies of the row, so max(case)
    pivots without a join).

    Same scale shape as :func:`global_rank`: a distributed range sort
    (len(specs)× the input, still narrow) + a partition-count-sized
    collect; never a single-partition window.
    """
    parts = num_parts or df.sparkSession.sparkContext.defaultParallelism
    base_cols = list(df.columns)
    branches = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("__p"),
                (key if not isinstance(key, str) else F.col(key))
                .cast("long")
                .alias("__k"),
            )
            for i, (key, _out) in enumerate(specs)
        ]
    )
    exploded = df.select(
        *base_cols, F.explode(branches).alias("__pk")
    ).select(
        *base_cols,
        F.col("__pk.__p").alias("__p"),
        F.col("__pk.__k").alias("__k"),
    )
    # Same checkpoint-pins-the-sampled-boundaries rule as
    # _ranked_with_offsets (see comment there).
    ranged = (
        exploded.repartitionByRange(
            parts,
            F.col("__p").asc(),
            F.col("__k").asc(),
            F.col(tiebreak_col).asc(),
        )
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = (
        ranged.groupBy("__p", "__pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    per_p: dict[int, list] = {}
    for r in counts:
        per_p.setdefault(r["__p"], []).append((r["__pid"], r["cnt"]))
    off_entries = []
    n_by_p: dict[int, int] = {}
    for p, lst in per_p.items():
        acc = 0
        for pid, cnt in sorted(lst):
            off_entries.extend([(p << 32) | pid, acc])
            acc += cnt
        n_by_p[p] = acc
    off_expr = (
        F.element_at(
            F.create_map(*[F.lit(x) for x in off_entries]),
            (F.col("__p").cast("long") * F.lit(1 << 32))
            + F.col("__pid"),
        )
        if off_entries
        else F.lit(0)
    )
    local = F.row_number().over(
        Window.partitionBy("__pid", "__p").orderBy(
            F.col("__k").asc(), F.col(tiebreak_col).asc()
        )
    )
    ranked = ranged.withColumn("__grank", (off_expr + local).cast("long"))

    def _tile(n: int):
        q, m = divmod(n, buckets)
        if q == 0:
            return F.col("__grank")
        head = m * (q + 1)
        return F.when(
            F.col("__grank") <= F.lit(head),
            F.expr(f"(__grank + {q}) DIV {q + 1}"),
        ).otherwise(F.lit(m) + F.expr(f"(__grank - {head} + {q - 1}) DIV {q}"))

    tile = F.lit(None).cast("long")
    for i in range(len(specs)):
        tile = F.when(F.col("__p") == i, _tile(n_by_p.get(i, 0))).otherwise(
            tile
        )
    scored = ranked.withColumn("__tile", tile.cast("int"))
    return scored.groupBy(*base_cols).agg(
        *[
            F.max(F.when(F.col("__p") == i, F.col("__tile"))).alias(out)
            for i, (_key, out) in enumerate(specs)
        ]
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: Sequence,
    out_col: str = "qnorm",
    num_parts: int | None = None,
) -> DataFrame:
    """Rank-based quantile normalization of a numeric column:
    ``out = (global_rank − 0.5) / n`` ∈ (0, 1) — the
    distribution-free feature scaling (uniformizes any input
    distribution; the first step of a rank-INT transform).

    Built on :func:`global_rank`, so the global order comes from a
    distributed range sort + bounded offset collect — this is the
    fact-table-sized use the single-partition window could never
    serve. ``n`` falls out of the same offsets pass (no extra job).
    The tiebreak columns make the order total, so the output is
    deterministic and cross-engine exact (integer rank, one division).
    """
    order = [F.col(value_col).asc()] + [
        c if not isinstance(c, str) else F.col(c) for c in tiebreak_cols
    ]
    ranged, cols, offsets, n = _ranked_with_offsets(df, order, num_parts)
    off_expr = (
        F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
            F.col("__pid"),
        )
        if offsets
        else F.lit(0)
    )
    local = F.row_number().over(Window.partitionBy("__pid").orderBy(*cols))
    rank = (off_expr + local).cast("long")
    return ranged.withColumn(
        out_col, (rank.cast("double") - 0.5) / F.lit(float(n))
    ).drop("__pid")


def winsorized_stats(
    df: DataFrame,
    group: str,
    value: str,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-group winsorized mean/stddev: values clamped to the group's
    [``lower``, ``upper``] exact quantiles before the moments — the
    robust summary that keeps a fat-tailed metric's mean from being a
    hostage of its top 1% (the standard pre-step before z-scoring
    revenue-like columns).

    Output: ``(group, n_rows, q_low, q_high, winsorized_mean,
    winsorized_std)``; stddev is the sample form. Plan: one per-group
    exact-percentile aggregation (dimension-sized), broadcast back
    onto the fact rows for the clamp, one moments aggregation — two
    fact passes, no window, no sort.
    """
    q = df.groupBy(F.col(group)).agg(
        F.expr(
            f"percentile({value}, array({lower!r}, {upper!r}))"
        ).alias("__q")
    )
    bounds = q.select(
        F.col(group),
        F.col("__q").getItem(0).alias("q_low"),
        F.col("__q").getItem(1).alias("q_high"),
    )
    joined = df.join(F.broadcast(bounds), group)
    clamped = F.least(
        F.greatest(F.col(value).cast("double"), F.col("q_low")),
        F.col("q_high"),
    )
    return (
        joined.groupBy(F.col(group), F.col("q_low"), F.col("q_high"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.avg(clamped).alias("winsorized_mean"),
            F.stddev_samp(clamped).alias("winsorized_std"),
        )
        .select(
            group, "n_rows", "q_low", "q_high",
            "winsorized_mean", "winsorized_std",
        )
    )


def global_cumsum(
    df: DataFrame,
    order_cols: Sequence,
    sum_cols: Sequence[str],
    num_parts: int | None = None,
) -> "tuple[DataFrame, dict[str, int]]":
    """Exact global INCLUSIVE running sums of integer weight columns
    under a total order — the weighted generalization of
    :func:`global_rank` (which is the special case ``weight = 1``),
    and the scalable ECDF primitive: a cumulative count over sorted
    distinct values IS the empirical CDF numerator.

    Same two-pass shape, never a single-partition window:
    range-repartition on the order columns, collect each partition's
    COLUMN TOTALS (a partition-count-sized build-time collect, the
    documented bounded pattern), broadcast the running offsets back as
    a literal lookup, and add each partition's local windowed sum.
    The checkpoint pins the sampled range boundaries to the offsets
    job (see :func:`_ranked_with_offsets`).

    Weights must be integer-typed (they are cast to long); every
    running sum is then exact, so downstream statistics built from
    ratios of these sums (KS distance, ECDF quantiles) are
    bit-identical in any engine. Returns ``(df + cum_<col> columns,
    {col: grand_total})`` — the totals fall out of the same offsets
    collect, no extra job.
    """
    cols = [c if not isinstance(c, str) else F.col(c) for c in order_cols]
    parts = num_parts or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.withColumns(
            {c: F.col(c).cast("long") for c in sum_cols}
        )
        .repartitionByRange(parts, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    psums = sorted(
        (r["__pid"], tuple(r[f"__s_{c}"] or 0 for c in sum_cols))
        for r in ranged.groupBy("__pid")
        .agg(*[F.sum(c).alias(f"__s_{c}") for c in sum_cols])
        .collect()
    )
    offsets: dict[int, tuple] = {}
    acc = [0] * len(sum_cols)
    for pid, sums in psums:
        offsets[pid] = tuple(acc)
        acc = [a + s for a, s in zip(acc, sums)]
    totals = {c: acc[i] for i, c in enumerate(sum_cols)}
    w = Window.partitionBy("__pid").orderBy(*cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = ranged
    for i, c in enumerate(sum_cols):
        off = (
            F.element_at(
                F.create_map(
                    *[
                        F.lit(x)
                        for pid, offs in offsets.items()
                        for x in (pid, offs[i])
                    ]
                ),
                F.col("__pid"),
            )
            if offsets
            else F.lit(0)
        )
        out = out.withColumn(
            f"cum_{c}", (off + F.sum(c).over(w)).cast("long")
        )
    return out.drop("__pid"), totals
