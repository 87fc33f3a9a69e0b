"""ETL pipeline (music_ETL rebuild): semantics on a fixture with known
quantile/tie structure (pins W1 behavior)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spark_streaming_kafka_spark import etl


@pytest.fixture(scope="module")
def triplets(spark):
    rows = []
    # active user: 10 songs, listen counts 1..10 (total 55 ≥ 20)
    for i in range(1, 11):
        rows.append(("userA", f"S{i:02d}", i))
    # noise: below min_count
    rows.append(("userA", "S99", 1))
    # inactive user: total < 20
    rows.append(("userB", "S01", 5))
    return spark.createDataFrame(rows, "user_id string, song_id string, listen_count int")


def test_min_listen_filter(triplets):
    out = etl.filter_min_listens(triplets, 2)
    assert out.filter(F.col("listen_count") < 2).count() == 0


def test_active_user_filter(triplets):
    """Only userA survives the active-user step (userB's total is
    5 < 20); a catalog of 200 keeps every song, so no user is lost to
    the catalog cut."""
    out = etl.build_ratings(triplets, min_count=2, min_total=20, catalog_size=200)
    users = {r["user_id"] for r in out.select("user_id").distinct().collect()}
    assert users == {"userA"}


def test_bucket_levels_match_pandas_quantiles(triplets):
    """userA counts 2..10: pandas quantiles(.2/.4/.6/.8) = 3.6/5.2/6.8/8.4
    → levels: 2,3→1; 4,5→2; 6→3; 7,8→4; 9,10→5 (>= boundaries).
    userA's song S<i> has i listens."""
    out = etl.build_ratings(triplets, min_count=2, min_total=20, catalog_size=200)
    levels = {int(r["song_id"][1:]): r["rating"] for r in out.collect()}
    assert levels == {2: 1.0, 3: 1.0, 4: 2.0, 5: 2.0, 6: 3.0, 7: 4.0, 8: 4.0, 9: 5.0, 10: 5.0}


def test_build_ratings_end_to_end(triplets):
    out = etl.build_ratings(triplets, min_count=2, min_total=20, catalog_size=5).collect()
    songs = {r["song_id"] for r in out}
    # top-5 songs by listens among cleaned rows: S06..S10
    assert songs == {"S06", "S07", "S08", "S09", "S10"}
    assert all(1.0 <= r["rating"] <= 5.0 for r in out)


def test_ratings_sql_twin_matches_build_ratings(spark):
    """r8: the registry query runs etl.RATINGS_SQL (single-parse SQL
    twin); its rows must equal build_ratings on the same fact tables —
    the guarantee that lets the SQL form carry the DataFrame form's
    oracle-green status."""
    from spark_streaming_kafka_spark.etl import build_ratings, build_ratings_sql
    from spark_streaming_kafka_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    trip = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("song_id"),
        F.col("l_quantity").cast("long").alias("listen_count"),
    )
    a = sorted(map(tuple, build_ratings(trip).collect()))
    b = sorted(map(tuple, build_ratings_sql(spark, li, orders).collect()))
    assert a == b and len(a) > 0
    assert build_ratings_sql(spark, li, orders).columns == [
        "user_id", "song_id", "rating",
    ]
