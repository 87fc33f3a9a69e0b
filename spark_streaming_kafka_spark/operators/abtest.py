"""Experiment-analysis primitives: two-proportion z-test over variants.

The decision layer on top of the engine's funnel/retention operators:
given a deterministic unit→variant assignment and a per-unit success
flag, compute per-variant conversion and the pooled two-proportion
z-statistic — the standard A/B readout. The statistic is closed-form
column algebra over TWO tiny aggregates, so at 100 TB the cost is one
hash aggregation per unit (map-side combined) and a 2-row reduction;
nothing about the test itself touches the driver.

Determinism notes (this feeds the DuckDB oracle gate): assignment must
be a pure function of the unit key (modulus here, rendezvous/HRW in
``operators/skew`` for weighted splits — never ``rand()``), and all
counts are exact longs, so the only doubles are final ratios of exact
integers — identical in any engine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def two_proportion_ztest(
    events: DataFrame,
    unit_col: str,
    success: "F.Column",
    variant: "F.Column | None" = None,
) -> DataFrame:
    """Pooled two-proportion z-test between variant 0 and variant 1.

    ``success`` is any boolean Column over the event rows (a unit
    converts if ANY of its rows succeeds); ``variant`` defaults to
    ``unit_col % 2``, the simplest deterministic split. Returns one
    row: per-variant unit counts and conversions, conversion rates,
    and the z statistic ``(p0 - p1) / sqrt(p*(1-p)*(1/n0 + 1/n1))``
    with the pooled rate ``p``. Rates and z are rounded to 6.
    """
    if variant is None:
        variant = (F.col(unit_col) % 2).cast("int")
    per_unit = events.groupBy(
        F.col(unit_col).alias("__unit"), variant.alias("__variant")
    ).agg(F.max(success.cast("int")).alias("__conv"))
    is0 = (F.col("__variant") == 0).cast("long")
    is1 = (F.col("__variant") == 1).cast("long")
    # Conditional sums pivot the two variants inside ONE aggregation —
    # no scalar cross join for the plan audit to flag.
    out = per_unit.groupBy().agg(
        F.sum(is0).alias("n_0"),
        F.sum(is1).alias("n_1"),
        F.sum(is0 * F.col("__conv")).alias("conv_0"),
        F.sum(is1 * F.col("__conv")).alias("conv_1"),
    )
    # try_divide throughout: ANSI mode (Spark 4 default) turns /0 into a
    # runtime error, and a degenerate experiment (empty arm, pooled rate
    # 0 or 1) must report NULL, not raise mid-sweep.
    p0 = F.try_divide(F.col("conv_0"), F.col("n_0"))
    p1 = F.try_divide(F.col("conv_1"), F.col("n_1"))
    p = (F.col("conv_0") + F.col("conv_1")) / (F.col("n_0") + F.col("n_1"))
    se = F.sqrt(
        p
        * (1 - p)
        * (
            F.try_divide(F.lit(1), F.col("n_0"))
            + F.try_divide(F.lit(1), F.col("n_1"))
        )
    )
    return out.select(
        "n_0",
        "n_1",
        "conv_0",
        "conv_1",
        F.round(p0, 6).alias("rate_0"),
        F.round(p1, 6).alias("rate_1"),
        F.round(F.when(se > 0, (p0 - p1) / se), 6).alias("z"),
    )


def cuped_summary(
    units: DataFrame,
    pre_col: str,
    post_col: str,
) -> DataFrame:
    """CUPED variance-reduction summary over per-unit (pre, post)
    metrics: ``theta = cov(pre, post) / var(pre)`` and the variance
    reduction the adjustment ``post - theta * (pre - mean(pre))``
    achieves, which is exactly ``corr(pre, post)²``.

    The experiment-sensitivity companion to
    :func:`two_proportion_ztest`: before running a test on a noisy
    metric, CUPED says how much pre-period behavior can soak up —
    reduction near 0 means the pre-period covariate is useless, near 1
    means most between-unit noise is removable. One aggregation over
    the units table (covar/var/corr are single-pass partial-merge
    aggregates in both engines); outputs are scale-free ratios of the
    same sums, so 1e-12 fold-order noise dies at round-6.

    Returns one row: (``n``, ``theta``, ``var_reduction_pct``), NULL
    theta/reduction when var(pre) is 0 (constant covariate).
    """
    # corr² spelled as covar²/(var·var): ANSI-mode corr() itself raises
    # DIVIDE_BY_ZERO on a constant column; try_divide yields NULL.
    cov = F.covar_pop(pre_col, post_col)
    return units.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.try_divide(cov, F.var_pop(pre_col)),
            6,
        ).alias("theta"),
        F.round(
            F.try_divide(
                cov * cov, F.var_pop(pre_col) * F.var_pop(post_col)
            )
            * 100,
            6,
        ).alias("var_reduction_pct"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group: "F.Column",
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two groups —
    the nonparametric complement of :func:`two_proportion_ztest` for
    CONTINUOUS outcomes with no normality assumption (revenue, latency
    — exactly the heavy-tailed columns a mean-based test misreads).

    ``group`` must evaluate to 0/1. Tie handling is the standard
    average-rank ("midrank") convention with the tie variance
    correction; the normal approximation
    ``z = (U1 - n1·n2/2) / sqrt(n1·n2/12 · ((n+1) - Σ(t³-t)/(n(n-1))))``
    is returned alongside U.

    NO global sort of the data: midranks come from the DISTINCT-VALUE
    table — per distinct value, rows-below + (count+1)/2 — so the only
    window runs over the value-cardinality-sized aggregate, and every
    rank sum is an exact integer-weighted aggregate. Output one row:
    ``(n_0, n_1, u_1, z)``.
    """
    # NULL values carry no rank: Spark's ascending sort places NULLs
    # first while ANSI engines place them last, so an unfiltered NULL
    # group would shift every midrank differently per engine.
    g = df.select(
        F.col(value_col).alias("__v"), group.cast("int").alias("__g")
    ).filter(F.col("__v").isNotNull())
    per_val = g.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__t"),
        F.sum("__g").cast("long").alias("__t1"),
    )
    from pyspark.sql import Window as _W

    w = _W.orderBy(F.col("__v").asc()).rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    # midrank(v) = (#rows below v) + (t_v + 1)/2 ; the unpartitioned
    # window is VALUE-CARDINALITY-sized (the aggregate), never the fact
    # table — the same bound the suite's other distinct-value windows
    # carry. For unbounded-cardinality doubles, bucket first or rank
    # with percentile.global_rank.
    ranked = per_val.withColumn(
        "__below", F.sum("__t").over(w) - F.col("__t")
    ).withColumn(
        "__midrank", F.col("__below") + (F.col("__t") + 1) / 2.0
    )
    agg = ranked.agg(
        F.sum(F.col("__t") - F.col("__t1")).cast("long").alias("n_0"),
        F.sum("__t1").cast("long").alias("n_1"),
        F.sum(F.col("__t1") * F.col("__midrank")).alias("__r1"),
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).cast("long").alias("__tie3"),
    )
    n0, n1 = F.col("n_0"), F.col("n_1")
    n = n0 + n1
    u1 = F.col("__r1") - n1 * (n1 + 1) / 2.0
    var = (
        n0.cast("double") * n1 / 12.0
        * ((n + 1) - F.col("__tie3") / (n.cast("double") * (n - 1)))
    )
    z = F.when(var > 0, (u1 - n0.cast("double") * n1 / 2.0) / F.sqrt(var))
    return agg.select(
        "n_0", "n_1", u1.alias("u_1"), z.alias("z")
    )


#: Cumulative probabilities of Poisson(1): P(X <= k) for k = 0..7.
#: Literal doubles (identical in any engine); the tail above 7 is
#: ~1e-10 and maps to weight 8.
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.919698602928606,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    n_replicates: int = 50,
    alpha: float = 0.05,
    seed: str = "boot",
) -> DataFrame:
    """Deterministic Poisson bootstrap CI for the mean of
    ``value_col`` — THE distributed bootstrap: instead of resampling n
    units with replacement (which needs global coordination), each
    unit draws an independent Poisson(1) weight per replicate, which
    converges to the same resampling distribution and is one data pass.

    Weights are DERIVED, not random: ``u = md5_long(unit, b) / 2^60``
    → inverse-CDF lookup against the Poisson(1) table — the engine's
    seeded-permutation precedent (manifest dedup), so the DuckDB
    oracle reproduces every draw and the CI is hash-checkable. Output
    one row: ``(n_units, n_replicates, mean_value, ci_low, ci_high)``
    with the percentile-method CI over replicate means.

    Plan: one explode of (unit, value) × replicate ids (map-side;
    the shuffle is map-combined to n_replicates rows per partition),
    one replicate-sized aggregation, one exact-percentile reduction
    over n_replicates rows.
    """
    from ..functions.hashing import md5_long

    b = F.explode(
        F.array(*[F.lit(i) for i in range(1, n_replicates + 1)])
    ).alias("__b")
    base = df.select(
        F.col(unit_col).alias("__unit"), F.col(value_col).alias("__x")
    )
    drawn = base.select("__unit", "__x", b)
    u = md5_long(
        F.concat(
            F.lit(seed + "_"),
            F.col("__unit").cast("string"),
            F.lit("_"),
            F.col("__b").cast("string"),
        )
    ) / F.lit(float(1 << 60))
    wexpr = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        wexpr = F.when(u <= F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(wexpr)
    # Keep the weighted sum in the INPUT's type: with integer values
    # (pass cents, not dollars) every replicate sum is exact in both
    # engines and the replicate mean is ONE division of exact integers
    # — bit-identical, where a float accumulation's order noise would
    # flip round-6 on 1e10-magnitude sums.
    weighted = drawn.select(
        "__b", (wexpr * F.col("__x")).alias("__wx"),
        wexpr.cast("long").alias("__w"),
    )
    reps = weighted.groupBy("__b").agg(
        (F.sum("__wx").cast("double") / F.sum("__w")).alias("__mean")
    ).filter(F.col("__mean").isNotNull())
    lo, hi = alpha / 2.0, 1.0 - alpha / 2.0
    # Point estimate: one bounded three-scalar collect at build (the
    # documented corpus-constant pattern — a 1x1 crossJoin would put a
    # CartesianProduct in the returned plan, which the suite audit
    # rightly bans). n_units counts DISTINCT resampling units (the
    # thing the bootstrap draws weights for); the mean stays the row
    # mean, which is what the cluster bootstrap estimates when a unit
    # spans several rows.
    n_units, n_rows, total = df.agg(
        F.countDistinct(F.col(unit_col)),
        F.count(F.lit(1)),
        F.sum(F.col(value_col)),
    ).first()
    mean_value = (
        float(total) / n_rows
        if n_rows and total is not None
        else float("nan")
    )
    return reps.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.expr(f"percentile(__mean, {lo!r})").alias("ci_low"),
        F.expr(f"percentile(__mean, {hi!r})").alias("ci_high"),
    ).select(
        F.lit(int(n_units)).cast("long").alias("n_units"),
        "n_replicates",
        F.lit(float(mean_value)).alias("mean_value"),
        "ci_low",
        "ci_high",
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group: "F.Column",
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups — the
    parametric complement of :func:`mann_whitney_u` when the outcome
    is roughly symmetric but the arms differ in spread/size (the case
    where Student's pooled variance is wrong and Welch is the default
    every stats package ships).

    ``group`` must evaluate to 0/1; NULL values carry no weight (same
    rule as :func:`mann_whitney_u`). Everything is the explicit-sums
    identity — ``var = (Σx² − (Σx)²/n)/(n−1)`` — in ONE hash
    aggregation (six conditional sums, map-side combined, one output
    row), so an external oracle evaluating the same closed form over
    doubles agrees to rounding; no covar/var internals, no second
    pass, nothing driver-side. Returns one row:
    ``(n_0, n_1, mean_0, mean_1, t_stat, dof)`` with the
    Welch–Satterthwaite degrees of freedom; t/dof are NULL when either
    arm has fewer than 2 points or both variances are 0.
    """
    g = df.select(
        F.col(value_col).cast("double").alias("__v"),
        group.cast("int").alias("__g"),
    ).filter(F.col("__v").isNotNull())
    is0 = (F.col("__g") == 0).cast("int")
    is1 = F.col("__g").cast("int")
    agg = g.agg(
        F.sum(is0).cast("long").alias("n_0"),
        F.sum(is1).cast("long").alias("n_1"),
        F.sum(is0 * F.col("__v")).alias("__s0"),
        F.sum(is1 * F.col("__v")).alias("__s1"),
        F.sum(is0 * F.col("__v") * F.col("__v")).alias("__ss0"),
        F.sum(is1 * F.col("__v") * F.col("__v")).alias("__ss1"),
    )
    n0 = F.col("n_0").cast("double")
    n1 = F.col("n_1").cast("double")
    m0 = F.try_divide(F.col("__s0"), n0)
    m1 = F.try_divide(F.col("__s1"), n1)
    v0 = F.try_divide(
        F.col("__ss0") - F.try_divide(F.col("__s0") * F.col("__s0"), n0),
        n0 - 1,
    )
    v1 = F.try_divide(
        F.col("__ss1") - F.try_divide(F.col("__s1") * F.col("__s1"), n1),
        n1 - 1,
    )
    se2 = F.try_divide(v0, n0) + F.try_divide(v1, n1)
    t = F.when(se2 > 0, (m0 - m1) / F.sqrt(se2))
    dof = F.when(
        se2 > 0,
        (se2 * se2)
        / (
            F.try_divide(
                F.try_divide(v0, n0) * F.try_divide(v0, n0), n0 - 1
            )
            + F.try_divide(
                F.try_divide(v1, n1) * F.try_divide(v1, n1), n1 - 1
            )
        ),
    )
    return agg.select(
        "n_0",
        "n_1",
        F.round(m0, 6).alias("mean_0"),
        F.round(m1, 6).alias("mean_1"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("dof"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group: "F.Column",
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the empirical
    CDFs of two groups — the distribution-shape test (location AND
    spread AND tails) that a mean-based or rank-based test can miss.

    ``group`` must evaluate to 0/1; NULLs are dropped (sort-placement
    differs per engine). The ECDFs come from the DISTINCT-VALUE table
    run through :func:`..percentile.global_cumsum` — a range-
    partitioned exact prefix sum, NEVER a single-partition window — so
    the operator survives unbounded value cardinality (o_totalprice-
    like columns where every row is distinct). The supremum is
    evaluated in EXACT INTEGERS: ``D = max|c0·n1 − c1·n0| / (n0·n1)``,
    one division after the max, so any engine reproduces it
    bit-for-bit. Group totals fall out of the cumsum's own bounded
    offsets collect (no extra job).

    Returns one row: ``(n_0, n_1, ks_d, ks_stat)`` where ``ks_stat =
    D·sqrt(n0·n1/(n0+n1))`` is the scaled statistic compared against
    the Kolmogorov distribution.
    """
    from .percentile import global_cumsum

    g = df.select(
        F.col(value_col).alias("__v"), group.cast("int").alias("__g")
    ).filter(F.col("__v").isNotNull())
    per_val = g.groupBy("__v").agg(
        F.sum(1 - F.col("__g")).cast("long").alias("__t0"),
        F.sum("__g").cast("long").alias("__t1"),
    )
    cum, totals = global_cumsum(
        per_val, [F.col("__v").asc()], ["__t0", "__t1"]
    )
    n0, n1 = totals["__t0"], totals["__t1"]
    d_num = F.abs(
        F.col("cum___t0") * F.lit(n1) - F.col("cum___t1") * F.lit(n0)
    )
    agg = cum.agg(F.max(d_num).alias("__dnum"))
    # degenerate arms resolve at BUILD time (totals are plan constants):
    # an empty group has no ECDF, so D is NULL — never a /0 under ANSI.
    if n0 > 0 and n1 > 0:
        d = F.col("__dnum").cast("double") / F.lit(float(n0 * n1))
        scale = F.lit(float(n0) * float(n1)) / F.lit(float(n0 + n1))
    else:
        d = F.lit(None).cast("double")
        scale = F.lit(None).cast("double")
    return agg.select(
        F.lit(n0).cast("long").alias("n_0"),
        F.lit(n1).cast("long").alias("n_1"),
        F.round(d, 6).alias("ks_d"),
        F.round(d * F.sqrt(scale), 6).alias("ks_stat"),
    )


def chi_square_independence(
    df: DataFrame,
    row_col: str,
    col_expr: "F.Column",
    col_domain: "Sequence[int] | None" = None,
    col_name: str = "col_key",
) -> DataFrame:
    """Chi-square test of independence over a two-way contingency
    table (is event mix independent of weekday? is label mix
    independent of source?).

    The contingency table comes from ONE fact-sized hash aggregation;
    every total/expected/term is then window algebra over the
    CELL-COUNT-sized table (|rows|·|cols| rows — bounded by the
    categorical domains, the same bound every distinct-value window in
    this package documents). ``col_domain`` (a literal integer domain,
    e.g. weekdays 1..7) densifies the table: a structurally-possible
    cell with zero observations still carries its expected count —
    omitting it would silently understate the statistic (the Benford
    right-join rule from round-10 ADVICE). Counts are exact longs and
    ``expected = row_total·col_total/n`` is one double division of
    exact integers, so cross-engine agreement is rounding-only.

    Returns one row per dense cell:
    ``(row_col, col_name, n_obs, expected, chi2_term, chi2_total,
    dof)`` — the total and degrees of freedom repeated per row (window
    sums over the cell table).
    """
    cells = df.groupBy(
        F.col(row_col).alias("__r"), col_expr.cast("int").alias("__c")
    ).agg(F.count(F.lit(1)).cast("long").alias("__o"))
    if col_domain is not None:
        rows = cells.groupBy("__r").agg(
            F.sum("__o").cast("long").alias("__rt")
        )
        dense = rows.select(
            "__r",
            "__rt",
            F.explode(
                F.array(*[F.lit(int(c)).cast("int") for c in col_domain])
            ).alias("__c"),
        ).join(cells, ["__r", "__c"], "left").na.fill({"__o": 0})
    else:
        wr = Window.partitionBy("__r")
        dense = cells.withColumn(
            "__rt", F.sum("__o").over(wr).cast("long")
        )
    wc = Window.partitionBy("__c")
    wall = Window.partitionBy()
    dense = (
        dense.withColumn("__ct", F.sum("__o").over(wc).cast("long"))
        .withColumn("__n", F.sum("__o").over(wall).cast("long"))
        .withColumn(
            "__nr", F.size(F.collect_set("__r").over(wall)).cast("long")
        )
        .withColumn(
            "__nc", F.size(F.collect_set("__c").over(wall)).cast("long")
        )
    )
    exp = (
        F.col("__rt").cast("double")
        * F.col("__ct").cast("double")
        / F.col("__n").cast("double")
    )
    term = F.when(
        F.col("__ct") > 0,
        (F.col("__o").cast("double") - exp) * (F.col("__o") - exp) / exp,
    ).otherwise(F.lit(0.0))
    out = dense.withColumn("__term", term).withColumn(
        "__total", F.sum("__term").over(wall)
    )
    return out.select(
        F.col("__r").alias(row_col),
        F.col("__c").alias(col_name),
        F.col("__o").alias("n_obs"),
        F.round(exp, 6).alias("expected"),
        F.round(F.col("__term"), 6).alias("chi2_term"),
        F.round(F.col("__total"), 6).alias("chi2_total"),
        ((F.col("__nr") - 1) * (F.col("__nc") - 1)).alias("dof"),
    )


def diff_in_diff(
    df: DataFrame,
    value_col: str,
    treated: "F.Column",
    post: "F.Column",
) -> DataFrame:
    """Difference-in-differences estimator over a 2×2 design: the
    causal-inference workhorse for launch/rollout readouts where a
    holdout exists but assignment wasn't randomized per unit.

    ``treated`` and ``post`` are boolean Columns; the estimate is
    ``(ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)``.
    ONE aggregation of eight conditional sums; pass ``value_col`` as
    exact integers (cents) and every cell mean is a single division of
    exact integers — bit-identical in any engine (the repo-wide
    exact-cents rule). Returns one row: the four cell counts, four
    cell means (round-6) and ``did`` (round-6, NULL if any cell is
    empty).
    """
    t = treated.cast("int")
    p = post.cast("int")
    flags = {
        "treat_post": t * p,
        "treat_pre": t * (1 - p),
        "ctrl_post": (1 - t) * p,
        "ctrl_pre": (1 - t) * (1 - p),
    }
    v = F.col(value_col)
    agg = df.agg(
        *[
            F.sum(fl).cast("long").alias(f"n_{k}")
            for k, fl in flags.items()
        ],
        *[F.sum(fl * v).alias(f"__s_{k}") for k, fl in flags.items()],
    )
    means = {
        k: F.try_divide(
            F.col(f"__s_{k}").cast("double"),
            F.col(f"n_{k}").cast("double"),
        )
        for k in flags
    }
    did = (means["treat_post"] - means["treat_pre"]) - (
        means["ctrl_post"] - means["ctrl_pre"]
    )
    return agg.select(
        *[F.col(f"n_{k}") for k in flags],
        *[F.round(means[k], 6).alias(f"mean_{k}") for k in flags],
        F.round(did, 6).alias("did"),
    )


def anova_oneway_f(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """One-way ANOVA F statistic across k groups — the k-group
    extension of :func:`welch_ttest` (equal-variance form; pair with
    :func:`brown_forsythe` when spread homogeneity is itself in
    doubt).

    Sum-of-squares from the explicit-sums identities:
    ``SSB = Σ s_g²/n_g − S²/N``, ``SSW = Σ(ss_g − s_g²/n_g)`` — one
    per-group hash aggregation (n, Σx, Σx²) and one k-row reduction,
    nothing else; an oracle evaluating the same closed form over
    doubles agrees to rounding. NULL values carry no weight. Returns
    one row: ``(k_groups, n_rows, f_stat, df_between, df_within)``;
    F is NULL when df or SSW degenerate.
    """
    g = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    ).filter(F.col("__v").isNotNull())
    per = g.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__v").alias("__s"),
        F.sum(F.col("__v") * F.col("__v")).alias("__ss"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("__n").cast("long").alias("n_rows"),
        F.sum("__s").alias("__S"),
        F.sum(F.col("__s") * F.col("__s") / F.col("__n")).alias("__sb"),
        F.sum(
            F.col("__ss") - F.col("__s") * F.col("__s") / F.col("__n")
        ).alias("__ssw"),
    )
    n = F.col("n_rows").cast("double")
    k = F.col("k_groups").cast("double")
    ssb = F.col("__sb") - F.col("__S") * F.col("__S") / n
    dfb = k - 1
    dfw = n - k
    f = F.when(
        (dfb > 0) & (dfw > 0) & (F.col("__ssw") > 0),
        (ssb / dfb) / (F.col("__ssw") / dfw),
    )
    return agg.select(
        "k_groups",
        "n_rows",
        F.round(f, 6).alias("f_stat"),
        dfb.cast("long").alias("df_between"),
        dfw.cast("long").alias("df_within"),
    )


def kruskal_wallis(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Kruskal–Wallis H test across k groups — the k-group
    :func:`mann_whitney_u`, with the same midrank tie convention and
    tie correction, but built for UNBOUNDED value cardinality: the
    midranks come from :func:`..percentile.global_cumsum` over the
    distinct-value table (range-partitioned exact prefix sums), so no
    single-partition window exists anywhere even when every row's
    value is distinct (revenue-like doubles).

    ``H = 12/(N(N+1)) · Σ R_g²/n_g − 3(N+1)``, tie-corrected by
    ``1 − Σ(t³−t)/(N³−N)``. Midranks are halves (exact doubles);
    per-group rank sums stay exact far past any realistic N, and the
    only engine-sensitive arithmetic is the final closed form —
    round-6. Building runs one bounded scalar job (the Σ(t³−t)
    reduction over the rank table) on top of global_cumsum's own
    offsets job — the documented build-time-constant pattern
    (bootstrap's point estimate, bm25's totals). Returns one row:
    ``(k_groups, n_rows, h_stat, h_corrected)`` (both NULL on a
    degenerate input, e.g. all values tied).
    """
    from .percentile import global_cumsum

    g = df.select(
        F.col(value_col).alias("__v"),
        F.col(group_col).alias("__g"),
    ).filter(F.col("__v").isNotNull())
    per_val = g.groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("__t")
    )
    cum, totals = global_cumsum(per_val, [F.col("__v").asc()], ["__t"])
    n = totals["__t"]
    ranks = cum.select(
        "__v",
        (
            (F.col("cum___t") - F.col("__t")).cast("double")
            + (F.col("__t") + 1) / 2.0
        ).alias("__midrank"),
        (
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).alias("__tie3"),
    )
    joined = g.join(ranks, "__v")
    per_g = joined.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__midrank").alias("__r"),
    )
    # Σ(t³−t) over DISTINCT values: read it off the rank table, not the
    # joined facts (each distinct value counts once).
    tie_sum = ranks.agg(F.sum("__tie3").alias("__ts"))
    agg = per_g.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum(
            F.col("__r") * F.col("__r") / F.col("__n")
        ).alias("__rsum"),
    )
    ts = tie_sum.first()["__ts"] if n else None
    nn = float(n)
    if n and nn > 1:
        h = (
            F.lit(12.0) / F.lit(nn * (nn + 1.0)) * F.col("__rsum")
            - F.lit(3.0 * (nn + 1.0))
        )
        corr = 1.0 - float(ts or 0) / (nn * nn * nn - nn)
        hc = F.when(F.lit(corr) > 0, h / F.lit(corr))
    else:
        h = F.lit(None).cast("double")
        hc = F.lit(None).cast("double")
    return agg.select(
        "k_groups",
        F.lit(n).cast("long").alias("n_rows"),
        F.round(h, 6).alias("h_stat"),
        F.round(hc, 6).alias("h_corrected"),
    )


def brown_forsythe(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Brown–Forsythe test for equal spread across k groups: the
    one-way ANOVA F (:func:`anova_oneway_f`) computed on
    ``|x − group median|`` — the robust Levene variant (median
    centers, so one heavy tail doesn't masquerade as heteroskedasticity).
    The gatekeeper to run BEFORE trusting the plain ANOVA's
    equal-variance assumption.

    Plan: one per-group exact-percentile aggregation (dimension-sized)
    broadcast back onto the facts for the centering, then the ANOVA
    sums — two fact passes, no window. Returns the same row shape as
    :func:`anova_oneway_f`.
    """
    g = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    ).filter(F.col("__v").isNotNull())
    med = g.groupBy("__g").agg(
        F.expr("percentile(__v, 0.5)").alias("__med")
    )
    centered = g.join(F.broadcast(med), "__g").select(
        "__g", F.abs(F.col("__v") - F.col("__med")).alias("__z")
    )
    return anova_oneway_f(centered, "__z", "__g")


def cramers_v(
    df: DataFrame,
    row_col: str,
    col_expr: "F.Column",
    col_domain: "Sequence[int] | None" = None,
) -> DataFrame:
    """Cramér's V effect size for a two-way contingency table:
    ``V = sqrt(χ² / (N · (min(R, C) − 1)))`` — the 0..1 strength
    companion to :func:`chi_square_independence`'s significance
    machinery (on big data everything is "significant"; V says whether
    the association is worth acting on).

    Reuses the chi-square operator's dense cell table and reduces it
    to one row: ``(n_rows, chi2, dof, v)``. R and C count categories
    with nonzero totals (an all-zero padded column carries no
    association information).
    """
    cells = chi_square_independence(
        df, row_col, col_expr, col_domain=col_domain
    )
    agg = cells.agg(
        F.sum("n_obs").cast("long").alias("n_rows"),
        F.max("chi2_total").alias("__chi2"),
        F.max("dof").alias("dof"),
        F.countDistinct(row_col).cast("long").alias("__r"),
        F.countDistinct(
            F.when(F.col("expected") > 0, F.col("col_key"))
        ).cast("long").alias("__c"),
    )
    minrc = F.least(F.col("__r"), F.col("__c")) - 1
    v = F.when(
        (F.col("n_rows") > 0) & (minrc > 0),
        F.sqrt(
            F.col("__chi2") / (F.col("n_rows").cast("double") * minrc)
        ),
    )
    return agg.select(
        "n_rows",
        F.round(F.col("__chi2"), 6).alias("chi2"),
        "dof",
        F.round(v, 6).alias("v"),
    )


def odds_ratio(
    df: DataFrame,
    unit_col: str,
    success: "F.Column",
    variant: "F.Column | None" = None,
) -> DataFrame:
    """Odds ratio for a 2×2 conversion design, with the log-OR normal
    approximation — the effect-size readout of
    :func:`two_proportion_ztest`'s significance test (same per-unit
    collapse, same deterministic split).

    ``OR = (a·d)/(b·c)`` over converted/not per arm;
    ``SE(ln OR) = sqrt(1/a + 1/b + 1/c + 1/d)``; ``z = ln(OR)/SE``.
    All four cells are exact longs from ONE aggregation; OR/SE/z are
    closed-form and NULL when any cell is empty (the standard
    degenerate case — callers wanting a continuity correction can add
    0.5 upstream). Returns one row:
    ``(conv_0, nonconv_0, conv_1, nonconv_1, or_ratio, log_or, se, z)``.
    """
    if variant is None:
        variant = (F.col(unit_col) % 2).cast("int")
    per_unit = df.groupBy(
        F.col(unit_col).alias("__unit"), variant.alias("__variant")
    ).agg(F.max(success.cast("int")).alias("__conv"))
    is0 = (F.col("__variant") == 0).cast("long")
    is1 = (F.col("__variant") == 1).cast("long")
    agg = per_unit.agg(
        F.sum(is0 * F.col("__conv")).alias("conv_0"),
        F.sum(is0 * (1 - F.col("__conv"))).alias("nonconv_0"),
        F.sum(is1 * F.col("__conv")).alias("conv_1"),
        F.sum(is1 * (1 - F.col("__conv"))).alias("nonconv_1"),
    )
    a, b = F.col("conv_1").cast("double"), F.col("nonconv_1").cast("double")
    c, d = F.col("conv_0").cast("double"), F.col("nonconv_0").cast("double")
    ok = (a > 0) & (b > 0) & (c > 0) & (d > 0)
    orr = F.when(ok, (a * d) / (b * c))
    log_or = F.when(ok, F.log((a * d) / (b * c)))
    se = F.when(ok, F.sqrt(1 / a + 1 / b + 1 / c + 1 / d))
    return agg.select(
        "conv_0",
        "nonconv_0",
        "conv_1",
        "nonconv_1",
        F.round(orr, 6).alias("or_ratio"),
        F.round(log_or, 6).alias("log_or"),
        F.round(se, 6).alias("se"),
        F.round(F.when(ok, log_or / se), 6).alias("z"),
    )


def permutation_test_mean(
    df: DataFrame,
    value_col: str,
    unit_col: str,
    variant: "F.Column | None" = None,
    n_replicates: int = 200,
    seed: str = "perm",
) -> DataFrame:
    """Deterministic permutation test for the difference of means
    between two arms — the exact-null companion of
    :func:`poisson_bootstrap_ci`: instead of asking "how precise is
    the mean" it asks "how often would a RANDOM re-assignment of units
    to arms produce a gap this large".

    Each unit's arm in replicate ``b`` is ``md5_long(seed, unit, b)
    & 1`` — derived, not random (the engine's seeded-permutation
    precedent), so the oracle reproduces every replicate and the
    p-value is hash-checkable. One explode of the per-unit table ×
    replicate ids, one (replicate, arm) aggregation, one
    replicate-sized reduction. Pass integer values (cents): every
    replicate mean is one division of exact integer sums, and the
    ``|diff| ≥ |observed|`` comparison is engine-identical. Returns
    one row: ``(n_units, n_replicates, obs_diff, p_value)`` —
    p uses the add-one convention ``(1 + #extreme)/(B + 1)``.
    """
    from ..functions.hashing import md5_long

    if variant is None:
        variant = (F.col(unit_col) % 2).cast("int")
    per_unit = df.groupBy(F.col(unit_col).alias("__unit")).agg(
        F.sum(F.col(value_col)).cast("long").alias("__x"),
        F.count(F.lit(1)).cast("long").alias("__c"),
    )
    obs_arm = variant
    base = df.groupBy(obs_arm.alias("__arm")).agg(
        F.sum(F.col(value_col)).cast("long").alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    is0 = (F.col("__arm") == 0).cast("long")
    is1 = (F.col("__arm") == 1).cast("long")
    obs = base.agg(
        F.sum(is1 * F.col("__s")).alias("__s1"),
        F.sum(is1 * F.col("__n")).alias("__n1"),
        F.sum(is0 * F.col("__s")).alias("__s0"),
        F.sum(is0 * F.col("__n")).alias("__n0"),
    ).first()
    if not obs["__n0"] or not obs["__n1"]:
        obs_diff = None
    else:
        obs_diff = float(obs["__s1"]) / obs["__n1"] - float(
            obs["__s0"]
        ) / obs["__n0"]
    b = F.explode(
        F.array(*[F.lit(i) for i in range(1, n_replicates + 1)])
    ).alias("__b")
    drawn = per_unit.select("__unit", "__x", "__c", b)
    arm = (
        md5_long(
            F.concat(
                F.lit(seed + "_"),
                F.col("__unit").cast("string"),
                F.lit("_"),
                F.col("__b").cast("string"),
            )
        )
        % 2
    ).cast("int")
    per_rep = drawn.groupBy("__b", arm.alias("__a")).agg(
        F.sum("__x").cast("long").alias("__s"),
        F.sum("__c").cast("long").alias("__n"),
    )
    a0 = (F.col("__a") == 0).cast("long")
    a1 = (F.col("__a") == 1).cast("long")
    reps = per_rep.groupBy("__b").agg(
        F.sum(a1 * F.col("__s")).alias("__s1"),
        F.sum(a1 * F.col("__n")).alias("__n1"),
        F.sum(a0 * F.col("__s")).alias("__s0"),
        F.sum(a0 * F.col("__n")).alias("__n0"),
    )
    diff = F.try_divide(
        F.col("__s1").cast("double"), F.col("__n1").cast("double")
    ) - F.try_divide(
        F.col("__s0").cast("double"), F.col("__n0").cast("double")
    )
    extreme = F.when(
        diff.isNotNull()
        & (F.abs(diff) >= F.lit(abs(obs_diff) if obs_diff is not None else 0.0)),
        1,
    ).otherwise(0)
    out = reps.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.sum(extreme).cast("long").alias("__ext"),
    )
    n_units = per_unit.count()
    p = (
        (1 + F.col("__ext").cast("double"))
        / (F.col("n_replicates").cast("double") + 1)
        if obs_diff is not None
        else F.lit(None).cast("double")
    )
    return out.select(
        F.lit(int(n_units)).cast("long").alias("n_units"),
        "n_replicates",
        F.lit(obs_diff).cast("double").alias("obs_diff"),
        F.round(p, 6).alias("p_value"),
    )


def quantile_treatment_effect(
    df: DataFrame,
    value_col: str,
    group: "F.Column",
    probs: "Sequence[float]" = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Quantile treatment effect: per-quantile difference between two
    arms' outcome distributions — where a mean difference says "arm 1
    is +3%", the QTE says WHERE in the distribution that lift lives
    (tail-only lifts and median shifts read identically to a t-test).

    One per-arm exact-percentile aggregation (the engine's shared
    linear-interpolation form), then a 2-row pivot — output one row
    per probe: ``(prob, q_0, q_1, qte)``, round-6.
    """
    plist = ", ".join(repr(float(p)) for p in probs)
    g = df.select(
        F.col(value_col).cast("double").alias("__v"),
        group.cast("int").alias("__g"),
    ).filter(F.col("__v").isNotNull())
    per_arm = g.groupBy("__g").agg(
        F.expr(f"percentile(__v, array({plist}))").alias("__qs")
    )
    exploded = per_arm.select(
        "__g",
        F.posexplode("__qs").alias("__i", "__q"),
    )
    probs_arr = F.array(*[F.lit(float(p)) for p in probs])
    out = exploded.groupBy("__i").agg(
        F.max(F.when(F.col("__g") == 0, F.col("__q"))).alias("q_0"),
        F.max(F.when(F.col("__g") == 1, F.col("__q"))).alias("q_1"),
    )
    return out.select(
        F.element_at(probs_arr, F.col("__i") + 1).alias("prob"),
        F.round(F.col("q_0"), 6).alias("q_0"),
        F.round(F.col("q_1"), 6).alias("q_1"),
        F.round(F.col("q_1") - F.col("q_0"), 6).alias("qte"),
    )
