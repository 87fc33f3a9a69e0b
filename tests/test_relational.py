"""Relational operators: semantics + the physical plans we demand.

Value-correctness is the oracle gate's job (tools/check_correctness.py,
all queries vs DuckDB); these tests pin behaviors and PLANS — broadcast
joins where we broadcast, pushed filters, pruned scans — because a
correct query with the wrong plan is still a failure at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spark_streaming_kafka_spark.operators.relational import (
    anti_join,
    counts_and_averages,
    dedup_by_key,
    rmse,
    semi_join,
    top_k,
    union_ratings,
    word_count,
)
from spark_streaming_kafka_spark.plans import (
    has_broadcast_hash_join,
    pushed_filters,
    scan_read_schema,
)
from spark_streaming_kafka_spark.queries import QUERIES


def test_counts_and_averages(spark):
    df = spark.createDataFrame(
        [(1, 10, 4.0), (1, 11, 2.0), (2, 10, 5.0)], "user_id int, song_id int, rating double"
    )
    out = {r["song_id"]: r for r in counts_and_averages(df, "song_id", "rating").collect()}
    assert out[10]["n_ratings"] == 2 and out[10]["avg_rating"] == 4.5
    assert out[11]["n_ratings"] == 1


def test_anti_and_semi_join(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    right = spark.createDataFrame([(2,), (2,), (4,)], "k int")
    assert sorted(r["k"] for r in anti_join(left, right, "k").collect()) == [1, 3]
    # semi join never duplicates despite dup keys on the right
    assert sorted(r["k"] for r in semi_join(left, right, "k").collect()) == [2]


def test_dedup_by_key_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 5, "b"), (1, 3, "a"), (2, 9, "c")], "k int, ord int, v string"
    )
    out = {r["k"]: r["v"] for r in dedup_by_key(df, "k", "ord").collect()}
    assert out == {1: "a", 2: "c"}


def test_top_k_with_ties_is_deterministic(spark):
    df = spark.createDataFrame([(i % 3, i) for i in range(30)], "score int, id int")
    out = top_k(df, [F.col("score").desc(), F.col("id").asc()], 5).collect()
    assert [(r["score"], r["id"]) for r in out] == [(2, 2), (2, 5), (2, 8), (2, 11), (2, 14)]


def test_union_by_name_handles_column_order(spark):
    a = spark.createDataFrame([(1, 2.0)], "user_id int, rating double")
    b = spark.createDataFrame([(3.0, 4)], "rating double, user_id int")
    out = union_ratings(a, b).collect()
    assert {(r["user_id"], r["rating"]) for r in out} == {(1, 2.0), (4, 3.0)}


def test_rmse(spark):
    df = spark.createDataFrame([(1.0, 2.0), (3.0, 3.0)], "a double, b double")
    assert rmse(df, "a", "b") == pytest.approx((0.5) ** 0.5)


def test_word_count_drops_empty_tokens(spark):
    df = spark.createDataFrame([("a  b a",), ("",)], "value string")
    out = {r["word"]: r["count"] for r in word_count(df, "value").collect()}
    assert out == {"a": 2, "b": 1}


# --- plan assertions ---------------------------------------------------

def test_dim_joins_are_broadcast(spark, sf_dir):
    df = QUERIES["top_revenue_join"](spark, sf_dir)
    assert has_broadcast_hash_join(df)


def test_filters_push_to_scan(spark, sf_dir):
    df = QUERIES["filter_project"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed and "l_returnflag" in pushed


def test_projection_prunes_scan(spark, sf_dir):
    df = QUERIES["filter_project"](spark, sf_dir)
    cols = set(scan_read_schema(df))
    # 11-column lineitem: the scan must read only what the query needs
    assert cols == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_discount",
    }


def test_topk_plans_take_ordered(spark, sf_dir):
    from spark_streaming_kafka_spark.plans import explain_str

    df = QUERIES["topk_orders"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df, "simple")


