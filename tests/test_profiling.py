"""Profiling / set-op / fuzzy-match operators (operators/profiling.py,
relational.intersect_keys/except_keys, dedup.blocked_edit_distance_pairs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_kafka_spark.operators.dedup import (
    blocked_edit_distance_pairs,
    passjoin_edit_distance_pairs,
)
from spark_streaming_kafka_spark.operators.profiling import (
    column_profile,
    grouped_distinct_counts,
    grouped_trend,
)
from spark_streaming_kafka_spark.operators.relational import (
    except_keys,
    intersect_keys,
)


def test_column_profile_exact(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 1.0), (3, "b", 2.0), (4, None, 2.0)],
        "id long, cat string, val double",
    )
    rows = {r["column"]: r for r in column_profile(df).collect()}
    assert rows["id"]["n_rows"] == 4
    assert rows["id"]["n_nulls"] == 0 and rows["id"]["n_distinct"] == 4
    assert rows["cat"]["n_nulls"] == 1 and rows["cat"]["n_distinct"] == 2
    assert rows["val"]["n_nulls"] == 1 and rows["val"]["n_distinct"] == 2


def test_column_profile_hostile_column_names(spark):
    """Names with spaces, dots, quotes, and backticks profile correctly:
    aliases are positional and the raw name only appears as an escaped
    string literal in the stack() unpivot."""
    df = spark.createDataFrame(
        [(1, "x", 2.0), (2, None, 2.0)],
        ["my col", "a.b", "it's`bad"],
    )
    rows = {r["column"]: r for r in column_profile(df).collect()}
    assert set(rows) == {"my col", "a.b", "it's`bad"}
    assert rows["my col"]["n_distinct"] == 2
    assert rows["a.b"]["n_nulls"] == 1 and rows["a.b"]["n_distinct"] == 1
    assert rows["it's`bad"]["n_distinct"] == 1


def test_column_profile_single_pass_expand(spark):
    """All per-column exact distincts plan through ONE aggregate with
    Expand — not one job per column."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("a"), (F.col("id") % 3).alias("b")
    )
    plan = column_profile(df)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert plan.count("Scan") - plan.count("ReusedExchange") <= 1


def test_grouped_distinct_counts(spark):
    df = spark.createDataFrame(
        [("g1", 1, "x"), ("g1", 1, "y"), ("g1", 2, "y"), ("g2", 5, "x")],
        "g string, u long, t string",
    )
    rows = {
        r["g"]: r
        for r in grouped_distinct_counts(df, ["g"], ["u", "t"]).collect()
    }
    assert rows["g1"]["n_rows"] == 3
    assert rows["g1"]["n_distinct_u"] == 2 and rows["g1"]["n_distinct_t"] == 2
    assert rows["g2"]["n_distinct_u"] == 1 and rows["g2"]["n_distinct_t"] == 1


def test_grouped_trend_exact_line(spark):
    """Points on y = 3x - 1 recover slope 3.0 exactly; a single point
    and a zero-variance x both yield NULL."""
    rows = [("a", float(x), 3.0 * x - 1.0) for x in range(10)]
    rows += [("single", 5.0, 2.0)]
    rows += [("flat", 4.0, 1.0), ("flat", 4.0, 9.0)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    out = {r["k"]: r for r in grouped_trend(df, "k", "x", "y").collect()}
    assert out["a"]["slope"] == 3.0 and out["a"]["n_points"] == 10
    assert out["single"]["slope"] is None
    assert out["flat"]["slope"] is None


def test_intersect_except_keys(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k long")
    b = spark.createDataFrame([(2,), (3,), (4,)], "k long")
    both = sorted(r["k"] for r in intersect_keys(a, b, ["k"]).collect())
    only_a = sorted(r["k"] for r in except_keys(a, b, ["k"]).collect())
    only_b = sorted(r["k"] for r in except_keys(b, a, ["k"]).collect())
    assert both == [2, 3]  # set semantics: duplicate 2 collapses
    assert only_a == [1]
    assert only_b == [4]


def test_blocked_edit_distance_pairs(spark):
    df = spark.createDataFrame(
        [
            ("B1", 1, "red widget"),
            ("B1", 2, "red widgets"),   # dist 1 to id 1
            ("B1", 3, "blue bolt"),     # far from both
            ("B2", 4, "red widget"),    # same text, different block: no pair
        ],
        "brand string, pk long, name string",
    )
    out = blocked_edit_distance_pairs(df, "brand", "name", "pk", max_dist=2)
    rows = [(r["id_a"], r["id_b"], r["edit_dist"]) for r in out.collect()]
    assert rows == [(1, 2, 1)]


def test_blocked_edit_distance_no_cartesian(spark):
    df = spark.createDataFrame(
        [("B1", 1, "x"), ("B2", 2, "y")], "brand string, pk long, name string"
    )
    plan = (
        blocked_edit_distance_pairs(df, "brand", "name", "pk")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_passjoin_matches_blocked_on_known_pairs(spark):
    df = spark.createDataFrame(
        [
            ("B1", 1, "red widget"),
            ("B1", 2, "red widgets"),   # dist 1 to id 1
            ("B1", 3, "blue bolt"),     # far from both
            ("B2", 4, "red widget"),    # same text, different block: no pair
        ],
        "brand string, pk long, name string",
    )
    out = passjoin_edit_distance_pairs(df, "brand", "name", "pk", max_dist=2)
    rows = [(r["id_a"], r["id_b"], r["edit_dist"]) for r in out.collect()]
    assert rows == [(1, 2, 1)]


def test_passjoin_parity_with_blocked_under_mutations(spark):
    """Exhaustive parity vs the all-pairs ground truth on adversarial
    strings: empties, sub-segment-length strings, single-char edits,
    insertions/deletions that shift every downstream segment."""
    import random

    rng = random.Random(7)
    words = ["red", "blue", "teal", "mint", "rose", "plum", "grey", "aqua"]
    rows = []
    for i in range(300):
        name = " ".join(rng.choice(words) for _ in range(rng.randint(0, 4)))
        r = rng.random()
        if name and r < 0.3:  # substitution
            p = rng.randrange(len(name))
            name = name[:p] + rng.choice("abcxyz ") + name[p + 1 :]
        elif name and r < 0.5:  # deletion (shifts all later segments)
            p = rng.randrange(len(name))
            name = name[:p] + name[p + 1 :]
        elif r < 0.6:  # insertion
            p = rng.randrange(len(name) + 1)
            name = name[:p] + rng.choice("qz ") + name[p:]
        rows.append((i, rng.choice(["b1", "b2"]), name))
    df = spark.createDataFrame(rows, "pk int, brand string, name string")
    for d in (1, 2, 3):
        ref = set(
            map(tuple, blocked_edit_distance_pairs(df, "brand", "name", "pk", d).collect())
        )
        new = set(
            map(tuple, passjoin_edit_distance_pairs(df, "brand", "name", "pk", d).collect())
        )
        assert new == ref, f"d={d}: missing={ref - new} extra={new - ref}"


def test_passjoin_candidates_subquadratic_on_diverse_strings(spark):
    """The scale claim, pinned structurally rather than by timing: on
    realistically DIVERSE strings (random 30-char, one coarse block) the
    all-pairs form must compare n(n-1)/2 pairs while Pass-Join's
    signature join verifies under 1% of that — only strings sharing an
    exact segment window ever meet. (On low-diversity data where true
    near-dups are a constant fraction of all pairs, every complete
    method is output-bound; see the operator docstring.)"""
    import random

    rng = random.Random(11)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    n = 2000
    texts = ["".join(rng.choice(alpha) for _ in range(30)) for _ in range(n)]
    # plant 10 near-dup pairs (1 substitution each)
    rows = [("B", i, t) for i, t in enumerate(texts)]
    for j in range(10):
        t = texts[j]
        rows.append(("B", n + j, t[:5] + "#" + t[6:]))
    df = spark.createDataFrame(rows, "brand string, pk int, name string")
    n_total = df.count()
    all_pairs = n_total * (n_total - 1) // 2
    cand = passjoin_edit_distance_pairs(
        df, "brand", "name", "pk", max_dist=2, candidates_only=True
    ).count()
    assert cand < all_pairs * 0.01, f"{cand} candidates vs {all_pairs} all-pairs"
    found = passjoin_edit_distance_pairs(df, "brand", "name", "pk", max_dist=2)
    got = {(r["id_a"], r["id_b"]) for r in found.collect()}
    assert {(j, n + j) for j in range(10)} <= got
