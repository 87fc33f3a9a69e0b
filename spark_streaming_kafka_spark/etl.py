"""The reference's ETL pipeline (``music_ETL.ipynb``) as one declarative
DataFrame flow.

Reference flow (pandas, driver-side, per-user Python loops):
  MSD listen triplets → drop listen_count < 2 (#cell4) → keep users with
  total ≥ 20 (#cell5-6) → per-user quantile bucketing of listen_count
  into levels 1–5 (#cell9, the W1 operator) → top-200 songs by total
  listens (#cell12-13) → restrict ratings to the top-200 catalog
  (#cell16) → res_use.csv.

Here each step is a DataFrame op; the only shuffles are the two
aggregations (user totals, song totals) and the quantile groupBy — all
partial-agg hash aggregates. The per-user Python loop (the reference's
scalability cliff: one pandas quantile call per user on the driver)
becomes a single distributed ``percentile`` aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.relational import grouped_sum, top_k


#: The full pipeline as ONE Spark-SQL statement over two registered
#: views — the exact algebra of :func:`build_ratings` (parity pinned by
#: tests/test_etl.py), parsed by Catalyst in a single driver round trip.
#: Why a SQL twin exists: the DataFrame form issues ~700 py4j calls per
#: construction (~0.2-0.3 s of driver wall, measured r8) — irrelevant in
#: a long-lived job, but a fifth of this query's sf0.1 wall clock and
#: exactly the cost any SQL engine does NOT pay per statement. The
#: SHUFFLE_HASH hint is the scale story, not a local trick: lineitem ⋈
#: orders is FACT ⋈ FACT, where auto-broadcast only fires because toy
#: SFs fit the 10 MB threshold; at 100 TB broadcast is impossible, and
#: even locally the driver-side hashed-relation build serialized the
#: timeline (1.39 s → 1.13 s by switching, r8 A/B).
# Plan-shape pins (r11, measured at sf0.1 with tools/stage_profile.py):
# (1) f1 carries "l_partkey IS NOT NULL": the final catalog semi-join
#     injects isnotnull(song_id) into ONLY its own leg's scan subtree,
#     which breaks exchange-reuse canonicalization and made Spark
#     shuffle lineitem twice; stating the (vacuously true) predicate on
#     every leg re-unifies the subtrees. (2) per_user aggregates
#     min(song_id) and active folds "+ 0.0D * __ds" into one quantile:
#     Catalyst's column pruning would otherwise narrow the per-user
#     leg's copy of the fact exchange to two columns — a second,
#     nearly identical fact shuffle + a second (pruned) per-user
#     aggregate. Keeping song_id referenced keeps every leg on the ONE
#     wide exchange: one lineitem map pass, one per-user aggregate.
#     Both pins are value-exact (x + 0.0 * anything_finite == x; the
#     column is never NULL under the inner join) — verified
#     row-identical and ~20% faster warm (0.84 -> 0.68 s).
RATINGS_SQL = """
WITH f1 AS (
  SELECT /*+ SHUFFLE_HASH(o) */ o.o_custkey AS user_id, l.l_partkey AS song_id,
         CAST(l.l_quantity AS LONG) AS listen_count
  FROM __etl_lineitem l JOIN __etl_orders o ON l.l_orderkey = o.o_orderkey
  WHERE CAST(l.l_quantity AS LONG) >= 2 AND l.l_partkey IS NOT NULL
),
per_user AS (
  SELECT user_id, sum(listen_count) AS __total, min(song_id) AS __ds,
         percentile(listen_count, array(0.2D,0.4D,0.6D,0.8D)) AS __qs
  FROM f1 GROUP BY user_id
),
active AS (
  SELECT user_id, __qs[0] + 0.0D * __ds AS __q0, __qs[1] AS __q1, __qs[2] AS __q2, __qs[3] AS __q3
  FROM per_user WHERE __total >= 20
),
f2 AS (
  SELECT /*+ BROADCAST(a) */ f1.user_id, f1.song_id, f1.listen_count,
         a.__q0, a.__q1, a.__q2, a.__q3
  FROM f1 JOIN active a ON f1.user_id = a.user_id
),
songtot AS (SELECT song_id, sum(listen_count) AS total FROM f2 GROUP BY song_id),
catalog AS (SELECT song_id FROM songtot ORDER BY total DESC, song_id ASC LIMIT 200),
rated AS (
  SELECT user_id, song_id,
         CASE WHEN listen_count >= __q3 THEN 5.0D
              WHEN listen_count >= __q2 THEN 4.0D
              WHEN listen_count >= __q1 THEN 3.0D
              WHEN listen_count >= __q0 THEN 2.0D
              ELSE 1.0D END AS rating
  FROM f2
)
SELECT /*+ BROADCAST(catalog) */ rated.user_id, rated.song_id, rated.rating
FROM rated LEFT SEMI JOIN catalog ON rated.song_id = catalog.song_id
"""


def build_ratings_sql(spark, lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """:data:`RATINGS_SQL` over the two fact tables (same fused plan as
    :func:`build_ratings` with the default thresholds/probs — noise
    filter ≥ 2, active total ≥ 20, quintile buckets, top-200 catalog).
    ``lineitem`` needs (l_orderkey, l_partkey, l_quantity); ``orders``
    needs (o_orderkey, o_custkey).

    View hygiene (r8 self-review): the views carry a per-call unique
    suffix (no cross-caller clobber race on a shared session) and are
    dropped immediately after ``spark.sql`` — analysis binds the view
    CONTENTS into the returned plan, so the lazy DataFrame survives the
    drop and nothing leaks into the session catalog."""
    import uuid

    tag = uuid.uuid4().hex[:12]
    li_view, o_view = f"__etl_lineitem_{tag}", f"__etl_orders_{tag}"
    lineitem.createOrReplaceTempView(li_view)
    orders.createOrReplaceTempView(o_view)
    try:
        return spark.sql(
            RATINGS_SQL.replace("__etl_lineitem", li_view).replace(
                "__etl_orders", o_view
            )
        )
    finally:
        spark.catalog.dropTempView(li_view)
        spark.catalog.dropTempView(o_view)


def filter_min_listens(triplets: DataFrame, min_count: int = 2) -> DataFrame:
    """#cell4 — drop noise plays (listen_count < 2)."""
    return triplets.filter(F.col("listen_count") >= min_count)


def build_ratings(
    triplets: DataFrame,
    min_count: int = 2,
    min_total: int = 20,
    catalog_size: int = 200,
    probs: tuple[float, ...] = (0.2, 0.4, 0.6, 0.8),
) -> DataFrame:
    """Full pipeline → (user_id, song_id, rating) restricted to the
    top-catalog (#cell16's 168,861-row shape on MSD input).

    Fused plan: the active-user filter keeps or drops WHOLE users, so a
    retained user's listen-count quantiles over the pre-filter rows are
    identical to its post-filter quantiles — which lets the per-user
    total and the quantile vector come out of ONE hash aggregation over
    the noise-filtered triplets. The ``total >= min_total`` filter and
    the boundary join-back then collapse into a single join against that
    dimension-sized aggregate. Shuffle count over fact-sized data: the
    user aggregation and the song-totals aggregation (both map-side
    partial), and nothing else — no fact-side semi-join shuffle, no
    fact-sized checkpoint (the earlier formulation had both); the fused
    plan's win is structural — one fewer full-fact shuffle and no
    fact-sized materialization is what survives a 100 TB input.

    Small-SF floor (why sf0.1 can't reach single-process parity): the
    algorithm is a serial dependency chain — percentile aggregate →
    active-user broadcast → song-totals aggregate → top-k catalog
    broadcast → final join — which AQE executes as ~5 dependent
    exchange waves, each paying Spark's fixed stage cost (scheduling,
    task launch, codegen dispatch ≈ 0.25-0.3 s). That ≈1.5 s floor is
    volume-independent and algorithmic (each wave consumes the previous
    wave's materialized result, so no two can overlap); DuckDB
    pipelines the same chain in-process with zero per-stage cost. At
    scale the fixed cost vanishes into per-wave data cost — the regime
    this plan is shaped for.

    The per-user row is ~50 bytes (id + 4 doubles); a bounded user base
    (the reference's MSD corpus: ~1M users ⇒ ~50 MB) broadcasts safely
    and turns both fact-side joins into shuffle-free map joins.
    """
    f1 = filter_min_listens(triplets, min_count)
    arr = ", ".join(str(p) for p in probs)
    n = len(probs)
    per_user = f1.groupBy("user_id").agg(
        F.sum("listen_count").alias("__total"),
        F.expr(f"percentile(listen_count, array({arr}))").alias("__qs"),
    )
    active = per_user.filter(F.col("__total") >= min_total).select(
        "user_id", *[F.col("__qs").getItem(i).alias(f"__q{i}") for i in range(n)]
    )
    # `active` feeds BOTH the rating branch and the song-totals branch.
    # No explicit materialization: the two branches reference the same
    # canonicalized aggregate subplan, so AQE's ReuseExchange computes
    # the percentile aggregation ONCE and shares its (broadcast)
    # exchange — same sharing a localCheckpoint bought, minus the extra
    # job barrier the checkpoint cost (measured ~20% of the query at
    # sf0.1). Exchange reuse survives on a cluster; checkpoint blocks
    # die with their executor.
    f2 = f1.join(F.broadcast(active), "user_id")  # filter + quantile boundaries in one
    v = F.col("listen_count")
    chain = F.when(v >= F.col(f"__q{n-1}"), F.lit(float(n + 1)))
    for i in range(n - 2, -1, -1):
        chain = chain.when(v >= F.col(f"__q{i}"), F.lit(float(i + 2)))
    rated = f2.withColumn("rating", chain.otherwise(F.lit(1.0)))
    songtot = grouped_sum(f2, "song_id", "listen_count", "total")
    catalog = top_k(
        songtot, [F.col("total").desc(), F.col("song_id").asc()], catalog_size
    ).select("song_id")
    return rated.join(F.broadcast(catalog), "song_id", "left_semi").select(
        "user_id", "song_id", "rating"
    )
