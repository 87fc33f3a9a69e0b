"""Dataset profiling / statistics operators.

Training-data pipelines gate every ingest behind a profile pass: null
rates, cardinalities, and per-key trend checks catch schema drift and
broken upstream extracts before they poison a 100 TB mix. The reference
has only ``df.count()`` prints (SURVEY §5 — `spark_kafka.py:28,46`);
these operators are the engine-grade version of that practice.

Scale notes:

- :func:`column_profile` computes EVERY column's stats in ONE
  aggregation pass over the scan (count + null-count + exact distinct
  per column). Multiple ``count(distinct ...)`` in one agg plan via
  Catalyst's Expand: the scan is read once and replicated
  per-distinct-column map-side — one job regardless of column count.
- :func:`grouped_trend` is a pure hash aggregation: the least-squares
  slope comes from the explicit-sums identity
  ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` so both this engine
  and any SQL oracle evaluate the identical closed form (no dependence
  on an engine's internal covariance update order). Partial aggregation
  combines the five sums map-side; the shuffle is one row per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def column_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Long-format per-column profile: one row per column with
    ``(column, n_rows, n_nulls, n_distinct)``.

    One aggregation job: all per-column stats evaluate in a single
    ``agg`` (Expand-based multi-distinct), then the single result row
    is unpivoted executor-side with ``stack`` — no driver collect, no
    per-column jobs. NULLs are excluded from distinct counts (SQL
    semantics, matched by DuckDB's ``count(DISTINCT col)``).
    """
    cols = cols or df.columns
    # Backtick-quote every referenced name (doubling embedded backticks,
    # the SQL identifier escape) so dots stay dots and spaces/quotes are
    # fine. Aliases are positional (__nulls_0, __dist_0, ...) so the raw
    # name never appears in an identifier; the name itself enters the
    # plan only as an escaped string literal inside stack().
    def ref(c: str):
        return F.col("`" + c.replace("`", "``") + "`")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(
            F.count(F.when(ref(c).isNull(), F.lit(1))).alias(f"__nulls_{i}")
        )
        aggs.append(F.count_distinct(ref(c)).alias(f"__dist_{i}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        "'{lit}', __nulls_{i}, __dist_{i}".format(
            lit=c.replace("\\", "\\\\").replace("'", "\\'"), i=i
        )
        for i, c in enumerate(cols)
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (column, n_nulls, n_distinct)"
        ),
        F.col("__n").alias("n_rows"),
    ).select("column", "n_rows", "n_nulls", "n_distinct")


def grouped_distinct_counts(
    df: DataFrame, keys: list[str], distinct_cols: list[str]
) -> DataFrame:
    """Per-group exact COUNT(DISTINCT col) for several columns at once,
    plus the plain row count.

    One hash-aggregation job: Catalyst plans multi-distinct via Expand
    (each input row fans to one replica per distinct column, tagged by
    group id), then two-level partial aggregation — the shuffle carries
    (keys, tag, value) rows already combined map-side. At 100 TB this
    is the standard cardinality-report shape; for sketch-sized output
    swap to ``approx_count_distinct`` per column (no Expand).

    Output columns: ``*keys``, ``n_rows``, ``n_distinct_<col>`` per col.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.count_distinct(F.col(c)).alias(f"n_distinct_{c}")
        for c in distinct_cols
    ]
    return df.groupBy(*keys).agg(*aggs)


def grouped_trend(
    df: DataFrame,
    key: str,
    x_col: str,
    y_col: str,
    slope_alias: str = "slope",
    round_digits: int = 6,
) -> DataFrame:
    """Per-key least-squares slope of ``y`` over ``x`` (simple linear
    regression), from one hash aggregation of the five classic sums.

    ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)``; keys with zero
    x-variance (or a single point) yield NULL. The closed form — not
    ``covar_pop/var_pop`` — so any external verifier evaluating the
    same expression over doubles agrees to rounding; all five sums are
    map-side combined, one output row per key.

    The usual use is drift detection (is this user's/source's metric
    trending?) — pair with a threshold filter downstream.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    g = df.groupBy(key).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
    )
    denom = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    slope = F.when(denom != 0.0, num / denom)
    return g.select(
        F.col(key),
        F.col("__n").cast("long").alias("n_points"),
        F.round(slope, round_digits).alias(slope_alias),
    )


def benford_first_digit(
    df: DataFrame, value_col: str
) -> DataFrame:
    """Benford's-law first-significant-digit profile of a positive
    numeric column — the classic fabricated-/corrupted-data smell test
    for financial and measurement columns.

    Output per digit d ∈ 1..9: ``(digit, n_values, observed_share,
    expected_share, chi2_term)`` with ``expected_share =
    log10(1 + 1/d)`` and ``chi2_term = (obs - exp)² / exp`` over the
    shares (sum the column for the test statistic). ALL nine digit
    rows are always present — a digit with zero occurrences yields
    ``n_values = 0`` and ``chi2_term = expected_share``, so the summed
    statistic never silently drops a digit's contribution.
    Zero/negative/null values are excluded (they have no first
    significant digit); on empty input the shares and chi2 terms are
    NULL (no total to divide by).

    Plan: the first digit is pure column algebra —
    ``floor(v / 10^floor(log10(v)))`` — so the whole profile is one
    map-side-combined 9-group aggregation over the scan. log10 of
    small integers is cross-engine stable under the suite's round-6
    contract.
    """
    v = F.col(value_col)
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
    pos = df.filter(v > 0).select(digit.alias("digit"))
    counts = pos.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_values")
    )
    # Densify to the full 1..9 support: a 9-row literal spine
    # left-joins the observed counts (broadcast, key equi-join) so
    # absent digits surface as 0 rather than vanishing from the chi²
    # sum.
    spine = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    counts = spine.join(counts, "digit", "left").select(
        "digit", F.coalesce("n_values", F.lit(0).cast("long")).alias("n_values")
    )
    total = F.sum("n_values").over(Window.partitionBy())
    # try_divide: an all-empty input leaves total = 0 and the shares
    # NULL instead of an ANSI divide-by-zero.
    obs = F.try_divide(F.col("n_values"), total)
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return counts.select(
        "digit",
        "n_values",
        obs.alias("observed_share"),
        exp.alias("expected_share"),
        ((obs - exp) * (obs - exp) / exp).alias("chi2_term"),
    )


def gini_coefficient(
    df: DataFrame,
    key_col: str,
    cents_col: str,
) -> DataFrame:
    """Gini coefficient of a non-negative integer quantity (e.g.
    revenue in cents) across keys — THE inequality number for "how
    concentrated is our revenue / token count / document mass".

    ``G = (2 Σ_i i·x_(i)) / (n Σ x) − (n+1)/n`` over values sorted
    ascending (ties broken by key, so both engines rank identically).
    All moments are exact integer sums — the double division happens
    once at the end, which is what makes the DuckDB twin bit-exact
    before rounding.

    Plan: the global rank comes from :func:`~.percentile.global_rank`
    (distributed range sort + bounded offset collect — no
    single-partition window), then one scalar aggregation of
    ``(Σ i·x, Σ x, n)``. Output: one row ``(n_keys, total, gini)``.
    """
    from .percentile import global_rank

    ranked = global_rank(
        df.select(F.col(key_col).alias("__k"), F.col(cents_col).alias("__x")),
        [F.col("__x").asc(), F.col("__k").asc()],
        "__i",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("__x").cast("long").alias("total"),
        F.sum(F.col("__i") * F.col("__x")).cast("long").alias("__ixsum"),
    )
    n = F.col("n_keys")
    return agg.select(
        "n_keys",
        "total",
        (
            F.lit(2.0) * F.col("__ixsum") / (n * F.col("total"))
            - (n + F.lit(1)) / n
        ).alias("gini"),
    )


def lorenz_deciles(
    df: DataFrame,
    key_col: str,
    cents_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Lorenz-curve points: split keys into ``buckets`` equal-count
    tiles by ascending value and report each tile's share of the total
    — "the bottom 50% of customers hold 9% of revenue" in table form
    (the graphical companion of :func:`gini_coefficient`).

    Output per tile: ``(tile, n_keys, tile_cents, cum_share)`` with
    ``cum_share`` the cumulative fraction of the total through that
    tile. Integer sums throughout; one division per output row.

    Plan: :func:`~.percentile.global_ntile` (distributed), a
    tile-sized aggregation, then a tiny window over ≤ ``buckets`` rows
    for the cumulative sum.
    """
    from .percentile import global_ntile

    tiled = global_ntile(
        df.select(F.col(key_col).alias("__k"), F.col(cents_col).alias("__x")),
        [F.col("__x").asc(), F.col("__k").asc()],
        buckets,
        "tile",
    )
    per_tile = tiled.groupBy("tile").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("__x").cast("long").alias("tile_cents"),
    )
    w = Window.partitionBy().orderBy("tile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = F.sum("tile_cents").over(Window.partitionBy())
    return per_tile.select(
        "tile",
        "n_keys",
        "tile_cents",
        (F.sum("tile_cents").over(w) / total).alias("cum_share"),
    )


def fd_confidence(
    df: DataFrame,
    lhs_cols: list[str],
    rhs_col: str,
) -> DataFrame:
    """Approximate functional-dependency check ``lhs → rhs``: does the
    left-hand side (approximately) determine the right? The schema-
    inference / data-quality primitive behind "is this column a key
    for that one".

    Confidence = ``Σ_g max_v count(g, v) / Σ_g count(g)`` — the
    fraction of rows that keep their group's majority value (1.0 iff
    the FD holds exactly). Output: one row ``(n_groups,
    n_violating_groups, n_rows, confidence)``.

    Plan: one (lhs, rhs) hash aggregation (map-side combined), one
    lhs-sized re-aggregation taking the per-group max, one scalar
    rollup. Counts are exact integers; the single division happens at
    the end.
    """
    gv = df.groupBy(
        *[F.col(c) for c in lhs_cols], F.col(rhs_col).alias("__v")
    ).agg(F.count(F.lit(1)).alias("__c"))
    per_g = gv.groupBy(*[F.col(c) for c in lhs_cols]).agg(
        F.max("__c").alias("__maxc"),
        F.sum("__c").alias("__tot"),
        F.count(F.lit(1)).alias("__nvals"),
    )
    return per_g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("__nvals") > 1).cast("long"))
        .cast("long")
        .alias("n_violating_groups"),
        F.sum("__tot").cast("long").alias("n_rows"),
        (
            F.sum("__maxc").cast("double") / F.sum("__tot")
        ).alias("confidence"),
    )


def _pairwise(series: DataFrame, key: str, x_col: str, y_col: str):
    """All ordered point pairs (x_a < x_b) within each key — the shared
    candidate stage of :func:`mann_kendall_trend` and
    :func:`theil_sen_slope`. A per-key self-equi-join: quadratic in the
    SERIES LENGTH (points per key — months of a rollup, ~tens), linear
    in the number of keys, so it scales with the dimension table it is
    meant for, never the fact table that produced the series."""
    a = series.select(
        F.col(key).alias("__k"),
        F.col(x_col).cast("long").alias("__xa"),
        F.col(y_col).cast("long").alias("__ya"),
    )
    b = series.select(
        F.col(key).alias("__k"),
        F.col(x_col).cast("long").alias("__xb"),
        F.col(y_col).cast("long").alias("__yb"),
    )
    return a.join(b, "__k").filter(F.col("__xa") < F.col("__xb"))


def mann_kendall_trend(
    series: DataFrame, key: str, x_col: str, y_col: str
) -> DataFrame:
    """Mann–Kendall monotonic-trend test per key — the nonparametric
    "is this series going up?" (no linearity or normality assumption;
    the robust complement of :func:`grouped_trend`'s least-squares
    slope, which one outlier month can hijack).

    Input is an already-aggregated series (one row per ``(key, x)``,
    ``y`` exact integers — pass cents). ``S = Σ sign(y_b − y_a)`` over
    the ordered pairs, tie-corrected variance
    ``(n(n−1)(2n+5) − Σt(t−1)(2t+5))/18``, continuity-corrected normal
    ``z``. S and both variance pieces are EXACT INTEGER aggregates;
    the only doubles are the final var/z divisions — cross-engine
    agreement is rounding-only. Output per key:
    ``(n_points, s_stat, var_s, z)``.
    """
    pairs = _pairwise(series, key, x_col, y_col)
    s = pairs.groupBy("__k").agg(
        F.sum(F.signum(F.col("__yb") - F.col("__ya")))
        .cast("long")
        .alias("s_stat")
    )
    n = series.groupBy(F.col(key).alias("__k")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    t = F.col("__t")
    ties = (
        series.groupBy(F.col(key).alias("__k"), F.col(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).cast("long").alias("__t"))
        .groupBy("__k")
        .agg(
            F.sum(t * (t - 1) * (2 * t + 5)).cast("long").alias("__tie")
        )
    )
    out = n.join(s, "__k").join(ties, "__k")
    np = F.col("n_points")
    var = (
        (np * (np - 1) * (2 * np + 5) - F.col("__tie")).cast("double")
        / 18.0
    )
    sgn = F.col("s_stat").cast("double")
    z = F.when(var <= 0, F.lit(None).cast("double")).otherwise(
        F.when(sgn > 0, (sgn - 1) / F.sqrt(var))
        .when(sgn < 0, (sgn + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return out.select(
        F.col("__k").alias(key),
        "n_points",
        "s_stat",
        F.round(var, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
    )


def theil_sen_slope(
    series: DataFrame, key: str, x_col: str, y_col: str
) -> DataFrame:
    """Theil–Sen slope per key: the MEDIAN of all pairwise slopes
    ``(y_b − y_a)/(x_b − x_a)`` — the robust trend ESTIMATE that pairs
    with :func:`mann_kendall_trend`'s trend TEST (up to ~29% corrupted
    points leave it unmoved, where least squares is already gone).

    Same exact-integer pair expansion (:func:`_pairwise`, series-length
    quadratic per key, dimension-sized overall); each slope is one
    double division of exact integers, the median is the exact
    linear-interpolation percentile both engines share (the
    ``group_quantiles`` precedent). Output per key:
    ``(n_pairs, sen_slope)``.
    """
    pairs = _pairwise(series, key, x_col, y_col)
    slope = (F.col("__yb") - F.col("__ya")).cast("double") / (
        F.col("__xb") - F.col("__xa")
    ).cast("double")
    return (
        pairs.withColumn("__slope", slope)
        .groupBy("__k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("percentile(__slope, 0.5)").alias("__med"),
        )
        .select(
            F.col("__k").alias(key),
            "n_pairs",
            F.round(F.col("__med"), 6).alias("sen_slope"),
        )
    )


def spearman_corr(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Spearman rank correlation between two BOUNDED-CARDINALITY
    numeric columns (quantity-like, discount-like): Pearson's formula
    evaluated on midranks, the tie-correct definition (the classic
    ``1 − 6Σd²/…`` shortcut is tie-wrong and not used).

    Midranks come from each column's DISTINCT-VALUE table — per value,
    rows-below + (count+1)/2, the :func:`..abtest.mann_whitney_u`
    machinery — so the only windows run over value-cardinality-sized
    aggregates and the rank tables broadcast back onto the fact rows
    (two broadcast hash joins, one fact pass each). For unbounded
    cardinality rank with ``percentile.global_rank`` instead. Rows
    with a NULL in either column are dropped (per-engine NULL sort
    placement). Output one row: ``(n_rows, rho)`` — the five-sums
    Pearson identity over midranks, round-6 (midrank sums exceed 2^53
    only past ~10^8 rows per the doubled-rank bound; round-6 absorbs
    the fold noise long before).
    """
    base = df.select(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())

    def rank_table(col: str) -> DataFrame:
        per_val = base.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("__t")
        )
        w = Window.orderBy(F.col(col).asc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return per_val.select(
            col,
            (
                (F.sum("__t").over(w) - F.col("__t")).cast("double")
                + (F.col("__t") + 1) / 2.0
            ).alias(f"__r{col}"),
        )
    ranked = base.join(
        F.broadcast(rank_table("__x")), "__x"
    ).join(F.broadcast(rank_table("__y")), "__y")
    rx, ry = F.col("__r__x"), F.col("__r__y")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(rx).alias("__sx"),
        F.sum(ry).alias("__sy"),
        F.sum(rx * ry).alias("__sxy"),
        F.sum(rx * rx).alias("__sxx"),
        F.sum(ry * ry).alias("__syy"),
    )
    nn = F.col("__n")
    num = nn * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    dx = nn * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    dy = nn * F.col("__syy") - F.col("__sy") * F.col("__sy")
    rho = F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy))
    return agg.select(
        nn.cast("long").alias("n_rows"), F.round(rho, 6).alias("rho")
    )


def zipf_fit(
    counts: DataFrame,
    term_col: str,
    count_col: str,
    n_top: int = 500,
) -> DataFrame:
    """Zipf's-law fit over a frequency table: the least-squares slope
    of ``ln(count)`` on ``ln(rank)`` across the top ``n_top`` terms —
    the one-number corpus-health diagnostic (natural text sits near
    −1; boilerplate-heavy or synthetic corpora drift off it).

    Ranking is ``count DESC, term ASC`` (the package-wide unique-
    tiebreaker rule) via orderBy+limit — a distributed TakeOrdered,
    never a full-table window; only the ``n_top``-row result gets a
    row_number, bounded by the literal. Slope/intercept from the
    five-sums identity (:func:`grouped_trend`'s closed form), so the
    oracle evaluates the same expression. Output one row:
    ``(n_terms, zipf_slope, zipf_intercept)``.
    """
    top = counts.select(
        F.col(term_col).alias("__term"),
        F.col(count_col).cast("long").alias("__cnt"),
    ).orderBy(F.col("__cnt").desc(), F.col("__term").asc()).limit(n_top)
    w = Window.orderBy(F.col("__cnt").desc(), F.col("__term").asc())
    pts = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("__lx"),
        F.log(F.col("__cnt").cast("double")).alias("__ly"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__lx").alias("__sx"),
        F.sum("__ly").alias("__sy"),
        F.sum(F.col("__lx") * F.col("__ly")).alias("__sxy"),
        F.sum(F.col("__lx") * F.col("__lx")).alias("__sxx"),
    )
    nn = F.col("__n")
    denom = nn * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.when(
        denom != 0.0,
        (nn * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / denom,
    )
    intercept = F.try_divide(F.col("__sy") - slope * F.col("__sx"), nn)
    return agg.select(
        nn.cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


def kl_js_divergence(
    df: DataFrame,
    cat_col: str,
    split: "F.Column",
    alpha: float = 0.5,
) -> DataFrame:
    """KL and Jensen–Shannon divergence between the categorical
    distributions of two row populations (split 0 vs split 1) — the
    drift readout for DISCRETE columns that complements ``drift.psi``'s
    binned-numeric report: "did the event-type mix shift between
    weekday and weekend / last month and this month?".

    ``split`` must evaluate to 0/1. Per-category counts for both
    populations come from ONE conditional-sum hash aggregation
    (bounded by category cardinality); probabilities are additively
    smoothed over the UNION of observed categories —
    ``p = (c + α)/(N + αK)`` — so zero-count categories on one side
    contribute finite terms and both engines smooth identically from
    exact integers. The three divergences are then one sum over the
    bounded category table (``JS = ½KL(P‖M) + ½KL(Q‖M)``, M the
    midpoint — symmetric, bounded by ln 2). Returns one row:
    ``(n_categories, n_0, n_1, kl_01, kl_10, js_div)`` round-6.
    """
    per_cat = (
        df.select(
            F.col(cat_col).cast("string").alias("__c"),
            split.cast("int").alias("__s"),
        )
        .filter(F.col("__c").isNotNull() & F.col("__s").isNotNull())
        .groupBy("__c")
        .agg(
            F.sum(1 - F.col("__s")).cast("long").alias("__c0"),
            F.sum("__s").cast("long").alias("__c1"),
        )
    )
    # Totals via a whole-frame window over the CATEGORY-BOUNDED count
    # table (the duration-cardinality window allowance — never a fact
    # table), which keeps the plan free of the 1-row-join nested-loop
    # node the suite-wide audit bans; sums of longs stay exact.
    wall = Window.partitionBy()
    j = per_cat.select(
        "__c0",
        "__c1",
        F.count(F.lit(1)).over(wall).cast("long").alias("n_categories"),
        F.sum("__c0").over(wall).cast("long").alias("n_0"),
        F.sum("__c1").over(wall).cast("long").alias("n_1"),
    )
    k = F.col("n_categories").cast("double")
    p = (F.col("__c0") + alpha) / (F.col("n_0") + alpha * k)
    q = (F.col("__c1") + alpha) / (F.col("n_1") + alpha * k)
    m = (p + q) / 2
    agg = j.groupBy("n_categories", "n_0", "n_1").agg(
        F.sum(p * F.log(p / q)).alias("__kl01"),
        F.sum(q * F.log(q / p)).alias("__kl10"),
        F.sum(
            0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
        ).alias("__js"),
    )
    return agg.select(
        "n_categories",
        "n_0",
        "n_1",
        F.round(F.col("__kl01"), 6).alias("kl_01"),
        F.round(F.col("__kl10"), 6).alias("kl_10"),
        F.round(F.col("__js"), 6).alias("js_div"),
    )


def chao1_richness(
    counts: DataFrame, term_col: str, count_col: str
) -> DataFrame:
    """Chao1 species-richness estimate and Good–Turing coverage from a
    term-frequency table — "how much vocabulary has this corpus NOT
    seen yet": singletons (f1) and doubletons (f2) bound the unseen
    mass, the standard corpus-growth diagnostic before committing to a
    tokenizer vocabulary size.

    Input is any frequency table (term, count). The work is the
    frequency-of-frequencies reduction: one hash aggregation keyed by
    count (output bounded by distinct count VALUES, which grow
    ~log-scale), then a 1-row reduction. Bias-corrected Chao1
    ``S + f1(f1−1)/(2(f2+1))`` stays finite when f2 = 0; Good–Turing
    coverage ``1 − f1/N`` estimates the probability the NEXT token is
    a known type. All inputs to the two divisions are exact longs.
    Returns one row: ``(s_observed, n_tokens, f1, f2, chao1,
    gt_coverage)`` round-6.
    """
    fof = (
        counts.select(F.col(count_col).cast("long").alias("__c"))
        .groupBy("__c")
        .agg(F.count(F.lit(1)).cast("long").alias("__species"))
    )
    agg = fof.agg(
        F.sum("__species").cast("long").alias("s_observed"),
        F.sum(F.col("__c") * F.col("__species")).cast("long").alias(
            "n_tokens"
        ),
        F.sum(
            F.when(F.col("__c") == 1, F.col("__species")).otherwise(0)
        )
        .cast("long")
        .alias("f1"),
        F.sum(
            F.when(F.col("__c") == 2, F.col("__species")).otherwise(0)
        )
        .cast("long")
        .alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    chao1 = F.col("s_observed").cast("double") + f1 * (f1 - 1) / (
        2 * (f2 + 1)
    )
    coverage = 1.0 - f1 / F.col("n_tokens").cast("double")
    return agg.select(
        "s_observed",
        "n_tokens",
        "f1",
        "f2",
        F.round(chao1, 6).alias("chao1"),
        F.round(coverage, 6).alias("gt_coverage"),
    )
