"""Round-10 analytics operators vs plain-Python oracles:

interval merging, SCD2 history, distributed skyline, rolling median,
weighted median, two-proportion z-test, readability, cohort retention.
"""

from __future__ import annotations

import math
import random
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka_spark.operators.abtest import two_proportion_ztest
from spark_streaming_kafka_spark.operators.cdc import scd2_history
from spark_streaming_kafka_spark.operators.percentile import weighted_median
from spark_streaming_kafka_spark.operators.sessionize import (
    cohort_retention,
    merge_intervals,
)
from spark_streaming_kafka_spark.operators.skyline import skyline_2d
from spark_streaming_kafka_spark.operators.windows import rolling_median


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


# --- merge_intervals ------------------------------------------------------


def _mi_df(spark):
    rows = [
        # u1: 10:00 and 10:03 overlap (5-min intervals); 10:20 separate;
        # 10:24:59 TOUCHES [10:20, 10:25) end-exclusive? start 10:24:59
        # < end 10:25 → overlaps. 10:31 separate.
        ("u1", 1, _ts("2024-01-01T10:00:00")),
        ("u1", 2, _ts("2024-01-01T10:03:00")),
        ("u1", 3, _ts("2024-01-01T10:20:00")),
        ("u1", 4, _ts("2024-01-01T10:24:59")),
        ("u1", 5, _ts("2024-01-01T10:31:00")),
        # u2: nested case — one event; island trivially itself.
        ("u2", 6, _ts("2024-01-01T00:00:00")),
    ]
    return spark.createDataFrame(rows, "user_id string, event_id long, ts timestamp")


def test_merge_intervals_islands(spark):
    out = merge_intervals(
        _mi_df(spark), ["user_id"], duration_ms=5 * 60 * 1000
    )
    got = {
        (r["user_id"], r["island_idx"]): (
            r["start_ms"],
            r["end_ms"],
            r["n_events"],
            r["span_ms"],
        )
        for r in out.collect()
    }
    base = int(_ts("2024-01-01T10:00:00").timestamp() * 1000)
    m = 60_000
    assert len(got) == 4
    # island 0: events 1+2 → [10:00, 10:08)
    assert got[("u1", 0)] == (base, base + 8 * m, 2, 8 * m)
    # island 1: events 3+4 → [10:20:00, 10:29:59)
    s1 = base + 20 * m
    assert got[("u1", 1)] == (s1, s1 + 9 * m + 59_000, 2, 9 * m + 59_000)
    # island 2: event 5 alone
    s2 = base + 31 * m
    assert got[("u1", 2)] == (s2, s2 + 5 * m, 1, 5 * m)
    assert got[("u2", 0)][2] == 1


def test_merge_intervals_touch_merges_strict_gap_splits(spark):
    """Intervals that TOUCH merge ([00:09,00:19) + [00:19,...)); only a
    strictly positive gap past the running max end opens a new island."""
    rows = [
        ("u", 1, _ts("2024-01-01T00:00:00")),
        ("u", 2, _ts("2024-01-01T00:08:00")),
        ("u", 3, _ts("2024-01-01T00:09:00")),
        ("u", 4, _ts("2024-01-01T00:19:00")),   # touches e3's end → merge
        ("u", 5, _ts("2024-01-01T00:29:01")),   # 1s past e4's end → split
    ]
    df = spark.createDataFrame(rows, "user_id string, event_id long, ts timestamp")
    out = merge_intervals(df, ["user_id"], duration_ms=10 * 60 * 1000)
    got = sorted((r["island_idx"], r["n_events"]) for r in out.collect())
    assert got == [(0, 4), (1, 1)]


def test_merge_intervals_partition_invariant(spark, tables):
    ev = tables["events"]
    a = merge_intervals(ev, ["user_id"]).collect()
    b = merge_intervals(ev.repartition(7), ["user_id"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- scd2_history ---------------------------------------------------------


def test_scd2_history_versions(spark):
    rows = [
        ("k", 1, _ts("2024-01-01T00:00:00"), "a"),
        ("k", 2, _ts("2024-01-02T00:00:00"), "a"),   # no change
        ("k", 3, _ts("2024-01-03T00:00:00"), "b"),   # change
        ("k", 4, _ts("2024-01-04T00:00:00"), None),  # change to NULL
        ("k", 5, _ts("2024-01-05T00:00:00"), None),  # no change (null=null)
        ("k", 6, _ts("2024-01-06T00:00:00"), "a"),   # change back
    ]
    df = spark.createDataFrame(
        rows, "key string, event_id long, ts timestamp, attr string"
    )
    out = scd2_history(df, ["key"], "attr", "ts", "event_id").collect()
    hist = sorted((r["version"], r["attr"]) for r in out)
    assert hist == [(1, "a"), (2, "b"), (3, None), (4, "a")]
    by_v = {r["version"]: r for r in out}
    d = lambda s: int(_ts(s).timestamp() * 1000)  # noqa: E731
    assert by_v[1]["effective_from_ms"] == d("2024-01-01T00:00:00")
    assert by_v[1]["effective_to_ms"] == d("2024-01-03T00:00:00")
    assert by_v[3]["effective_to_ms"] == d("2024-01-06T00:00:00")
    assert by_v[4]["effective_to_ms"] is None  # current version is open


def test_scd2_history_partition_invariant(spark, tables):
    ev = tables["events"]
    a = scd2_history(ev, ["user_id"], "event_type").collect()
    b = scd2_history(ev.repartition(5), ["user_id"], "event_type").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- skyline_2d -----------------------------------------------------------


def _py_skyline(pts):
    """NOT-EXISTS oracle: weak dominance, maximize both."""
    out = []
    for a in pts:
        dominated = any(
            b[0] >= a[0] and b[1] >= a[1] and (b[0] > a[0] or b[1] > a[1])
            for b in pts
        )
        if not dominated:
            out.append(a)
    return sorted(out)


def test_skyline_matches_not_exists_oracle(spark):
    rng = random.Random(42)
    pts = [
        (rng.randint(0, 30), float(rng.randint(0, 30)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "id long, x long, y double"
    )
    got = sorted(
        (r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()
    )
    # Oracle over point VALUES; result may carry duplicates — compare as
    # multisets of coordinates present in the input rows.
    frontier = set(_py_skyline(pts))
    expect = sorted(p for p in pts if p in frontier)
    assert got == expect


def test_skyline_keeps_coordinate_ties(spark):
    df = spark.createDataFrame(
        [(1, 5, 5.0), (2, 5, 5.0), (3, 4, 4.0)], "id long, x long, y double"
    )
    got = sorted(r["id"] for r in skyline_2d(df, "x", "y").collect())
    assert got == [1, 2]  # identical coords don't dominate each other


def test_skyline_partition_invariant_and_null_safe(spark):
    rng = random.Random(7)
    rows = [
        (i, rng.randint(0, 20), None if i % 17 == 0 else float(rng.randint(0, 20)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, x long, y double")
    a = sorted(map(tuple, skyline_2d(df, "x", "y").collect()))
    b = sorted(map(tuple, skyline_2d(df.repartition(13), "x", "y").collect()))
    assert a == b
    assert all(r[2] is not None for r in a)


# --- rolling_median -------------------------------------------------------


def test_rolling_median_matches_pandas(spark, tables):
    import pandas as pd

    orders = tables["orders"]
    out = rolling_median(
        orders, "o_custkey", ["o_orderdate", "o_orderkey"], "o_totalprice"
    )
    got = {
        r["o_orderkey"]: r["rolling_median"]
        for r in out.collect()
    }
    pdf = orders.select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    ).toPandas()
    pdf = pdf.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    exp = (
        pdf.groupby("o_custkey")["o_totalprice"]
        .rolling(3, min_periods=1)
        .median()
        .reset_index(level=0, drop=True)
    )
    for key, med in zip(pdf["o_orderkey"], exp):
        assert got[key] == float(med) or abs(got[key] - float(med)) < 1e-9


# --- weighted_median ------------------------------------------------------


def test_weighted_median_oracle(spark):
    rows = [
        ("g", 10.0, 1.0, 1),
        ("g", 20.0, 3.0, 2),
        ("g", 30.0, 2.0, 3),   # total 6, half 3 → cum at 20.0 is 4 ≥ 3
        ("h", 5.0, 10.0, 4),   # single heavy row
        ("z", 1.0, 0.2, 5),    # weight rounds to 0 → filtered, group gone
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double, tb long")
    out = {
        r["g"]: (r["weighted_median"], r["total_weight"])
        for r in weighted_median(df, "g", "v", "w", ["tb"]).collect()
    }
    assert out == {"g": (20.0, 6), "h": (5.0, 10)}


def test_weighted_median_exactly_one_row_per_group(spark, tables):
    li = tables["lineitem"]
    out = weighted_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity",
        ["l_orderkey", "l_linenumber"],
    )
    counts = out.groupBy("l_returnflag").count().collect()
    assert all(r["count"] == 1 for r in counts)


# --- two_proportion_ztest -------------------------------------------------


def test_ztest_closed_form(spark):
    # 4 units in variant 0 (2 convert), 4 in variant 1 (1 converts);
    # unit parity decides the variant; ANY success row converts a unit.
    rows = []
    for uid, conv in [(0, 1), (2, 1), (4, 0), (6, 0), (1, 1), (3, 0), (5, 0), (7, 0)]:
        rows.append((uid, conv == 1))
        rows.append((uid, False))  # extra non-converting row per unit
    df = spark.createDataFrame(rows, "user_id long, ok boolean")
    got = two_proportion_ztest(df, "user_id", F.col("ok")).collect()[0]
    assert (got["n_0"], got["n_1"], got["conv_0"], got["conv_1"]) == (4, 4, 2, 1)
    p0, p1, p = 0.5, 0.25, 3 / 8
    z = (p0 - p1) / math.sqrt(p * (1 - p) * (1 / 4 + 1 / 4))
    assert abs(got["z"] - round(z, 6)) < 1e-9
    assert got["rate_0"] == 0.5 and got["rate_1"] == 0.25


def test_ztest_degenerate_is_null_not_error(spark):
    df = spark.createDataFrame(
        [(0, True), (1, True)], "user_id long, ok boolean"
    )
    got = two_proportion_ztest(df, "user_id", F.col("ok")).collect()[0]
    assert got["z"] is None  # pooled rate 1 → se 0 → NULL, no /0 raise


# --- readability ----------------------------------------------------------


def test_readability_hand_computed(spark):
    from spark_streaming_kafka_spark.functions.text import readability_features

    df = spark.createDataFrame(
        [(1, "The cat sat. It purred!"), (2, ""), (3, "xyz")],
        "doc_id long, text string",
    )
    ft = readability_features(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[v.alias(k) for k, v in ft.items()]
        ).collect()
    }
    r1 = out[1]
    # words: The/cat/sat./It/purred! → 5; sentences: '.'+'!' → 2
    # vowel groups (lower): the(e) cat(a) sat(a) it(i) purred(u, e) = 6
    assert (r1["n_words"], r1["n_sentences"], r1["n_vowel_groups"]) == (5, 2, 6)
    assert abs(r1["words_per_sentence"] - 2.5) < 1e-9
    assert abs(
        r1["flesch"] - (206.835 - 1.015 * 2.5 - 84.6 * (6 / 5))
    ) < 1e-9
    assert out[2]["flesch"] is None and out[2]["n_words"] == 0
    assert out[3]["n_sentences"] == 1  # fragment floors to one sentence


# --- cohort_retention -----------------------------------------------------


def test_cohort_retention_toy(spark):
    rows = [
        # cohort 2024-01: u1 active Jan+Feb, u2 Jan only
        ("u1", _ts("2024-01-05T00:00:00")),
        ("u1", _ts("2024-01-20T00:00:00")),  # same month, counted once
        ("u1", _ts("2024-02-05T00:00:00")),
        ("u2", _ts("2024-01-10T00:00:00")),
        # cohort 2024-03: u3
        ("u3", _ts("2024-03-01T00:00:00")),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        (r["cohort_month"], r["month_offset"]): (r["n_users"], r["retention"])
        for r in cohort_retention(df).collect()
    }
    assert got == {
        ("2024-01", 0): (2, 1.0),
        ("2024-01", 1): (1, 0.5),
        ("2024-03", 0): (1, 1.0),
    }


# --- period_growth --------------------------------------------------------


def test_period_growth_hand_computed(spark):
    rows = [
        (_ts("2024-01-10T00:00:00"), 100.0),
        (_ts("2024-01-20T00:00:00"), 100.0),
        (_ts("2024-02-05T00:00:00"), 300.0),
        (_ts("2024-04-01T00:00:00"), 150.0),  # March missing entirely
    ]
    from spark_streaming_kafka_spark.operators.windows import period_growth

    df = spark.createDataFrame(rows, "ts timestamp, v double")
    got = {r["month"]: (r["value"], r["growth_1"]) for r in
           period_growth(df, "ts", "v", lags=(1,)).collect()}
    assert got["2024-01"] == (200.0, None)         # series head → NULL
    assert got["2024-02"] == (300.0, 50.0)         # (300-200)/200
    # NOTE: lag is over PRESENT months (gaps collapse) — documented.
    assert got["2024-04"] == (150.0, -50.0)


def test_seasonal_residuals_sum_to_zero_per_dow(spark, tables):
    from spark_streaming_kafka_spark.operators.windows import (
        seasonal_baseline_residual,
    )

    out = seasonal_baseline_residual(
        tables["orders"], "o_orderdate", "o_totalprice"
    )
    sums = (
        out.groupBy("dow").agg(F.round(F.sum("residual"), 2).alias("s"))
    ).collect()
    # Residuals vs the per-dow mean cancel (up to 1e-6-rounding dust).
    assert all(abs(r["s"]) < 0.01 for r in sums)
    assert set(r["dow"] for r in sums) <= set(range(7))


# --- curriculum_interleave ------------------------------------------------


def test_curriculum_interleave_positions(spark):
    from spark_streaming_kafka_spark.operators.curation import (
        curriculum_interleave,
    )

    rows = [
        (1, "a", 0.9), (2, "a", 0.5), (3, "a", 0.1),
        (4, "b", 0.8), (5, "b", 0.7),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, q double")
    out = curriculum_interleave(
        df, "source", [F.col("q").desc(), F.col("doc_id").asc()]
    )
    got = {r["doc_id"]: (r["within_rank"], r["sched_pos"]) for r in out.collect()}
    # sources sorted: a=1, b=2 of n=2 → pos = (rank-1)*2 + idx
    assert got == {1: (1, 1), 4: (1, 2), 2: (2, 3), 5: (2, 4), 3: (3, 5)}
    # schedule positions are a permutation prefix: all distinct
    assert len({p for _, p in got.values()}) == 5


# --- item_cooccurrence_topk -----------------------------------------------


def test_item_cooccurrence_lift_oracle(spark):
    from spark_streaming_kafka_spark.operators.retrieval import (
        item_cooccurrence_topk,
    )

    rows = [
        # baskets: {x,y}, {x,y}, {x,z}, {w} (dropped: singleton)
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "z"),
        (4, "w"),
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = item_cooccurrence_topk(df, "basket", "item", k=2)
    got = {
        (r["item"], r["neighbor"]): (r["n_ab"], r["lift"], r["rank"])
        for r in out.collect()
    }
    # kept universe: 3 baskets; c(x)=3, c(y)=2, c(z)=1
    # lift(x,y) = 2*3/(3*2) = 1.0; lift(x,z) = 1*3/(3*1) = 1.0
    assert got[("x", "y")] == (2, 1.0, 1)   # ties: n_ab desc wins
    assert got[("x", "z")] == (1, 1.0, 2)
    assert got[("y", "x")] == (2, 1.0, 1)
    assert got[("z", "x")] == (1, 1.0, 1)
    assert ("w", "x") not in got and not any(k[0] == "w" for k in got)


def test_item_cooccurrence_basket_cap_drops_whole_basket(spark):
    from spark_streaming_kafka_spark.operators.retrieval import (
        item_cooccurrence_topk,
    )

    rows = [(1, f"i{j}") for j in range(5)] + [(2, "i0"), (2, "i1")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = item_cooccurrence_topk(df, "basket", "item", k=10, max_basket_size=4)
    got = sorted((r["item"], r["neighbor"]) for r in out.collect())
    assert got == [("i0", "i1"), ("i1", "i0")]  # only basket 2 survives


# --- cuped_summary --------------------------------------------------------


def test_cuped_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    pre = rng.normal(100, 20, 400)
    post = 0.8 * pre + rng.normal(0, 10, 400)
    from spark_streaming_kafka_spark.operators.abtest import cuped_summary

    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(pre, post)], "pre double, post double"
    )
    got = cuped_summary(df, "pre", "post").collect()[0]
    theta = float(np.cov(pre, post, bias=True)[0, 1] / np.var(pre))
    corr2 = float(np.corrcoef(pre, post)[0, 1] ** 2 * 100)
    assert got["n"] == 400
    assert abs(got["theta"] - round(theta, 6)) < 1e-5
    assert abs(got["var_reduction_pct"] - round(corr2, 6)) < 1e-4
    # the adjusted metric really has (1 - corr²) of the variance
    adj = post - theta * (pre - pre.mean())
    assert abs(np.var(adj) / np.var(post) - (1 - corr2 / 100)) < 1e-9


def test_cuped_constant_covariate_is_null(spark):
    from spark_streaming_kafka_spark.operators.abtest import cuped_summary

    df = spark.createDataFrame(
        [(1.0, 2.0), (1.0, 5.0)], "pre double, post double"
    )
    got = cuped_summary(df, "pre", "post").collect()[0]
    assert got["theta"] is None  # var(pre)=0 → try_divide NULL, no raise


# --- ses_forecast ---------------------------------------------------------


def test_ses_forecast_equals_sequential_recursion(spark):
    from spark_streaming_kafka_spark.operators.windows import ses_forecast

    rows = [
        ("a", _ts(f"2024-01-{d:02d}T05:00:00"), float(v))
        for d, v in [(1, 10), (2, 14), (3, 9), (4, 20), (5, 16)]
    ] + [("b", _ts("2024-01-01T00:00:00"), 7.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {
        r["k"]: (r["n_days"], r["forecast"])
        for r in ses_forecast(df, ["k"], "ts", "v", alpha=0.3).collect()
    }
    # plain sequential recursion l_t = 0.3 v_t + 0.7 l_{t-1}, l_1 = v_1
    level = 10.0
    for v in [14, 9, 20, 16]:
        level = 0.3 * v + 0.7 * level
    assert got["b"] == (1, 7.0)                  # single day: forecast = v1
    assert abs(got["a"][1] - level) < 1e-5       # weight rounding at 1e-9
    assert got["a"][0] == 5


def test_ses_forecast_partition_invariant(spark, tables):
    from spark_streaming_kafka_spark.operators.windows import ses_forecast

    ev = tables["events"]
    a = ses_forecast(ev, ["event_type"], "ts", "value").collect()
    b = ses_forecast(
        ev.repartition(11), ["event_type"], "ts", "value"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_skyline_exact_on_adversarial_sorted_layout(spark):
    """A layout range-clustered along one objective (every partition's
    local skyline stays large) must still produce the exact frontier."""
    rng = random.Random(99)
    pts = [(i, float(rng.randint(0, 40))) for i in range(120)]
    df = (
        spark.createDataFrame(
            [(x, y) for x, y in pts], "x long, y double"
        )
        .orderBy("x")  # sorted = worst case for the local prune
    )
    expect = sorted(_py_skyline(pts))
    a = sorted((r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect())
    assert a == expect


# --- growth accounting ----------------------------------------------------


def test_first_seen_cumulative_toy(spark):
    from spark_streaming_kafka_spark.operators.sessionize import (
        first_seen_cumulative,
    )

    rows = [
        ("u1", _ts("2024-01-05T00:00:00")),
        ("u1", _ts("2024-03-01T00:00:00")),   # repeat, not a first-timer
        ("u2", _ts("2024-01-20T00:00:00")),
        ("u3", _ts("2024-02-02T00:00:00")),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        r["period"]: (r["n_new"], r["cum_users"])
        for r in first_seen_cumulative(df).collect()
    }
    assert got == {"2024-01": (2, 2), "2024-02": (1, 3)}
    # march has no first-timers → no row (cumulative carries implicitly)


def test_new_vs_returning_rollup_toy(spark):
    from spark_streaming_kafka_spark.operators.sessionize import (
        new_vs_returning_rollup,
    )

    rows = [
        ("u1", _ts("2024-01-05T00:00:00"), 10.0),   # new in Jan
        ("u1", _ts("2024-01-20T00:00:00"), 5.0),    # same first month: new
        ("u1", _ts("2024-02-02T00:00:00"), 7.0),    # returning in Feb
        ("u2", _ts("2024-02-10T00:00:00"), 3.0),    # new in Feb
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp, v double")
    got = {
        r["period"]: (
            r["new_value"], r["returning_value"],
            r["n_new_users"], r["n_returning_users"], r["new_share"],
        )
        for r in new_vs_returning_rollup(df, "u", "ts", "v").collect()
    }
    assert got["2024-01"] == (15.0, 0.0, 1, 0, 1.0)
    assert got["2024-02"] == (3.0, 7.0, 1, 1, 0.3)


def test_growth_identities_on_orders(spark, tables):
    """Σ n_new = distinct customers; per-month new+returning revenue =
    plain monthly revenue."""
    from spark_streaming_kafka_spark.operators.sessionize import (
        first_seen_cumulative,
        new_vs_returning_rollup,
    )

    orders = tables["orders"]
    cum = first_seen_cumulative(orders, "o_custkey", "o_orderdate").collect()
    total = orders.select("o_custkey").distinct().count()
    assert sum(r["n_new"] for r in cum) == total
    assert max(r["cum_users"] for r in cum) == total

    split = {
        r["period"]: r["new_value"] + r["returning_value"]
        for r in new_vs_returning_rollup(
            orders, "o_custkey", "o_orderdate", "o_totalprice"
        ).collect()
    }
    monthly = {
        r["m"]: r["v"]
        for r in orders.groupBy(
            F.date_format(
                F.date_trunc("month", "o_orderdate"), "yyyy-MM"
            ).alias("m")
        )
        .agg(F.round(F.sum("o_totalprice"), 4).alias("v"))
        .collect()
    }
    for m, v in monthly.items():
        assert abs(split[m] - v) < 0.01


def test_skyline_incremental_fold_on_antichain(spark):
    """Anti-chain input (y = -x): the frontier IS the dataset. The
    incremental batch fold must return all rows exactly (r9 ADVICE:
    the old concat-everything pass was an OOM shape here; small Arrow
    batches force multiple fold steps)."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        df = spark.createDataFrame(
            [(i, float(i), float(-i)) for i in range(200)], "id int, x double, y double"
        ).repartition(3)
        got = sorted(r["id"] for r in skyline_2d(df, "x", "y").collect())
        assert got == list(range(200))
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_skyline_candidate_guard_trips(spark):
    df = spark.createDataFrame(
        [(i, float(i), float(-i)) for i in range(100)], "id int, x double, y double"
    )
    with pytest.raises(ValueError, match="exceeds guard"):
        skyline_2d(df, "x", "y", candidate_guard=10).collect()
    # a generous guard passes through untouched
    assert skyline_2d(df, "x", "y", candidate_guard=1000).count() == 100


def test_rolling_median_handles_quoted_column_names(spark):
    """Column names needing backticks (dots/spaces) must work — the
    operator is Column-based like the rest of the module (r9 ADVICE)."""
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 90.0)],
        ["k", "t", "the value"],
    ).withColumnRenamed("the value", "v.alue")
    out = rolling_median(df, "k", ["t"], "v.alue", preceding=2)
    vals = [r["rolling_median"] for r in out.orderBy("t").collect()]
    assert vals == [10.0, 15.0, 20.0]
