"""RecommendationEngine: seeded-RMSE gate (the reference's only
correctness practice, spark_music.py:52-56), API parity behaviors, and
model persistence."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spark_streaming_kafka_spark.recommend import RecommendationEngine


@pytest.fixture(scope="module")
def ratings(spark):
    """Synthetic ratings with real structure: 60 users × 40 songs, block
    preference pattern + deterministic jitter so ALS has signal."""
    rows = []
    for u in range(60):
        for s in range(40):
            if (u * 7 + s * 3) % 5 < 3:  # ~60% density, deterministic
                base = 4.0 if (u % 2 == s % 2) else 2.0
                rows.append((u, s, base + ((u + s) % 3 - 1) * 0.5))
    return spark.createDataFrame(rows, "user_id int, song_id int, rating double").cache()


@pytest.fixture(scope="module")
def engine(spark, ratings):
    eng = RecommendationEngine(spark, ratings, rank=4, max_iter=10, min_ratings=1)
    eng.retrain()
    return eng


def test_rmse_below_threshold(spark, engine, ratings):
    train, test = ratings.randomSplit([0.8, 0.2], seed=0)
    eng = RecommendationEngine(spark, train, rank=4, min_ratings=1)
    eng.retrain()
    assert eng.evaluate_rmse(test) < 1.2  # block structure ⇒ learnable


def test_top_ratings_excludes_rated(engine, ratings):
    rated = {r["song_id"] for r in ratings.filter(F.col("user_id") == 3).collect()}
    recs = engine.get_top_ratings(3, k=10).collect()
    assert 0 < len(recs) <= 10
    assert all(r["song_id"] not in rated for r in recs)
    scores = [r["predicted_rating"] for r in recs]
    assert scores == sorted(scores, reverse=True)


def _rows(df):
    """(song_id, predicted_rating, num_ratings, avg_rating[, title]) per
    user, in served order — compared exactly, not rounded."""
    cols = [c for c in ("song_id", "predicted_rating", "num_ratings",
                        "avg_rating", "title") if c in df.columns]
    return {
        u: [tuple(r[c] for c in cols) for r in rows]
        for u, rows in _by_user(df.collect()).items()
    }


def test_batch_serving_matches_per_user_path(spark, engine, ratings):
    """get_top_ratings_for_users == per-user get_top_ratings (which scores
    through ALSModel.transform) for every user, bit for bit, at rank 4
    and at a rank whose factor length is not a multiple of 4; and the
    batch plan is ONE plan with no per-user Union chain (the round-1
    streaming loop launched one job per distinct user)."""
    rank7 = RecommendationEngine(spark, ratings, rank=7, max_iter=5, min_ratings=1)
    rank7.retrain()
    users = spark.createDataFrame([(3,), (5,), (7,)], "user_id int")
    for eng in (engine, rank7):
        batch = eng.get_top_ratings_for_users(users, k=10)
        assert "Union" not in batch._jdf.queryExecution().optimizedPlan().toString()
        got = _rows(batch)
        for uid in (3, 5, 7):
            assert got[uid] == _rows(eng.get_top_ratings(uid, k=10))[uid]
    rank7.unpersist()


def test_batch_serving_scores_from_broadcast_factors(spark, engine):
    """The serve plan joins the factor tables by broadcast only: no
    sort-merge join (ALSModel.transform plans two, each shuffling a full
    factor table)."""
    users = spark.createDataFrame([(3,), (5,)], "user_id int")
    plan = engine.get_top_ratings_for_users(users, k=5)._jdf.queryExecution()
    plan = plan.executedPlan().toString()
    assert "Scan userFactors" in plan and "Scan itemFactors" in plan
    assert "SortMergeJoin" not in plan


def test_batch_serving_skips_cold_start_users(spark, ratings):
    """A user rated after the last retrain has no factors yet: they get
    no rows and no error, and the other users are served as before."""
    eng = RecommendationEngine(spark, ratings, rank=4, max_iter=3, min_ratings=1)
    eng.retrain()
    new = spark.createDataFrame(
        [(5000, 1, 5.0)], "user_id int, song_id int, rating double"
    )
    eng.add_ratings(new, retrain=False)
    users = spark.createDataFrame([(5000,), (3,)], "user_id int")
    got = _rows(eng.get_top_ratings_for_users(users, k=5))
    assert set(got) == {3}
    assert len(got[3]) == 5
    eng.unpersist()


def test_batch_serving_carries_titles(spark, ratings):
    """With ``metadata`` the served rows carry the song title, and songs
    missing from the catalog are not served (same as get_top_ratings)."""
    meta = spark.createDataFrame(
        [(s, f"song-{s}") for s in range(40) if s != 7], "new_song_ID int, title string"
    )
    eng = RecommendationEngine(spark, ratings, meta, rank=4, max_iter=3, min_ratings=1)
    eng.retrain()
    users = spark.createDataFrame([(3,), (4,)], "user_id int")
    got = _rows(eng.get_top_ratings_for_users(users, k=40))
    for uid in (3, 4):
        assert got[uid] == _rows(eng.get_top_ratings(uid, k=40))[uid]
        assert all(row[-1] == f"song-{row[0]}" for row in got[uid])
        assert 7 not in {row[0] for row in got[uid]}
    eng.unpersist()


def test_history_is_engine_owned_snapshot(spark, ratings):
    """After construction the history's plan is the engine's own
    checkpoint (a LogicalRDD), not the caller's plan, so no batch
    re-analyses the caller's lineage."""
    caller = ratings.filter(F.col("rating") > 0)  # a plan, not an RDD
    eng = RecommendationEngine(spark, caller, min_ratings=1)
    logical = eng.ratings._jdf.queryExecution().logical()
    assert logical.getClass().getSimpleName() == "LogicalRDD"
    assert eng.ratings.count() == caller.count()
    eng.unpersist()


_SCHEMA = "user_id int, song_id int, rating double"


def test_checkpoint_cycle_restores_partition_count(spark, ratings):
    """Each add folds its batch into ONE single-partition delta whatever
    the batch's own partitioning, so between checkpoints the history is
    the snapshot's partitions + 1; the every-10 checkpoint folds the
    delta into a new snapshot coalesced back to the construction
    snapshot's count, so tasks per batch do not grow for the life of a
    stream."""
    eng = RecommendationEngine(spark, ratings, min_ratings=1)
    n0 = eng.ratings.rdd.getNumPartitions()
    for i in range(1, 11):
        batch = spark.createDataFrame(
            [(900 + i, s, 3.0) for s in range(6)], _SCHEMA
        ).repartition(3)
        eng.add_ratings(batch, retrain=False)
        assert eng.ratings.rdd.getNumPartitions() == (n0 if i == 10 else n0 + 1), i
    assert eng.ratings.count() == ratings.count() + 60
    eng.unpersist()


def test_running_counts_match_full_recount(spark, ratings):
    """The running (n, sum) per song gives the same rows as recounting
    the whole history (``counts_and_averages``), bit for bit, through a
    checkpoint cycle, with integer and half-integer ratings and songs
    the history has not seen; and reading them is one job of one task,
    not a recount over the history's partitions."""
    from spark_streaming_kafka_spark.operators.relational import counts_and_averages

    eng = RecommendationEngine(spark, ratings, min_ratings=1)
    sc = spark.sparkContext
    for i in range(12):
        batch = spark.createDataFrame(
            [(700 + i, (i * 7 + j) % 45, 1.0 + (i + j) % 9 * 0.5) for j in range(8)],
            _SCHEMA,
        )
        eng.add_ratings(batch, retrain=False)
        group = f"running-counts-{i}"
        sc.setJobGroup(group, group)
        try:
            got = sorted(eng.rating_counts.collect())
        finally:
            sc.setJobGroup(None, None)
        want = sorted(counts_and_averages(eng.ratings, "song_id", "rating").collect())
        assert got == want, i
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = sum(
            st.getStageInfo(s).numCompletedTasks
            for j in jobs
            for s in st.getJobInfo(j).stageIds
        )
        assert (len(jobs), tasks) == (1, 1), i
    eng.unpersist()


def test_retrain_blocks_follow_reference_rule(spark, ratings, monkeypatch):
    """ALS is fitted with the reference's ``mllib`` block rule
    (``ALS.train(blocks=-1)``): max(defaultParallelism, partitions // 2)
    user and item blocks, not ``pyspark.ml``'s fixed 10."""
    from spark_streaming_kafka_spark import recommend

    seen = []
    fit = recommend.ALS.fit

    def spy(als, dataset, params=None):
        seen.append(
            (als.getNumUserBlocks(), als.getNumItemBlocks(), dataset.rdd.getNumPartitions())
        )
        return fit(als, dataset, params)

    monkeypatch.setattr(recommend.ALS, "fit", spy)
    eng = RecommendationEngine(spark, ratings.repartition(24), max_iter=2, min_ratings=1)
    eng.retrain()
    eng.add_ratings(spark.createDataFrame([(5000, 1, 4.0)], _SCHEMA), retrain=True)
    dp = spark.sparkContext.defaultParallelism
    assert [s[2] for s in seen] == [24, 25]
    for users, items, parts in seen:
        assert users == items == max(dp, parts // 2)
    eng.unpersist()


def _by_user(rows):
    out = {}
    for r in rows:
        out.setdefault(r["user_id"], []).append(r)
    for u in out:
        out[u].sort(key=lambda r: (-r["predicted_rating"], r["song_id"]))
    return out


def test_recommend_for_all_users_shape(engine):
    recs = engine.recommend_for_all_users(k=3)
    counts = recs.groupBy("user_id").count().collect()
    assert all(r["count"] == 3 for r in counts)
    assert len(counts) == 60


def test_als_factors_reconstruct_predictions(spark, engine):
    """Factor-level pin: model.transform must equal the numpy dot product
    of the persisted user/item factor matrices — the factors are real and
    the serving path uses exactly them (reference persists rank-4 factors
    under music_lens_als/data/{user,product})."""
    import numpy as np

    m = engine.model
    uf = {r["id"]: np.array(r["features"], dtype=np.float64)
          for r in m.userFactors.collect()}
    vf = {r["id"]: np.array(r["features"], dtype=np.float64)
          for r in m.itemFactors.collect()}
    assert all(len(v) == 4 for v in uf.values())  # rank pinned
    pairs = spark.createDataFrame(
        [(u, s) for u in range(5) for s in range(8)], "user_id int, song_id int"
    )
    preds = m.transform(pairs).collect()
    assert len(preds) == 40
    for r in preds:
        want = float(uf[r["user_id"]] @ vf[r["song_id"]])
        assert r["prediction"] == pytest.approx(want, abs=1e-5)


def test_als_recovers_block_structure(engine):
    """Prediction-level pin: on the parity-block fixture (same-parity
    user/song pairs rated ~4.0, cross-parity ~2.0) the seeded model must
    rank same-parity songs on top for the large majority of users."""
    recs = engine.recommend_for_all_users(3).collect()
    assert len(recs) == 180
    agree = sum(1 for r in recs if r["user_id"] % 2 == r["song_id"] % 2)
    assert agree / len(recs) > 0.8


def test_als_same_seed_reproduces_topk(spark, ratings):
    """Determinism pin: two independent trainings with the same seed and
    data must serve identical top-k lists (what makes the rows-only
    als_recommend_topk driver check meaningful)."""
    outs = []
    for _ in range(2):
        eng = RecommendationEngine(spark, ratings, rank=4, min_ratings=1)
        eng.retrain()
        outs.append(sorted(
            (r["user_id"], r["rank"], r["song_id"])
            for r in eng.recommend_for_all_users(5).collect()
        ))
    assert outs[0] == outs[1]


def test_add_ratings_extends_history(spark, engine):
    n0 = engine.ratings.count()
    new = spark.createDataFrame([(999, 1, 5.0), (999, 2, 4.0)],
                                "user_id int, song_id int, rating double")
    engine.add_ratings(new, retrain=True)
    assert engine.ratings.count() == n0 + 2
    recs = engine.get_top_ratings(999, k=5).collect()
    assert len(recs) > 0
    assert all(r["song_id"] not in (1, 2) for r in recs)


def test_model_save_load(tmp_path, spark, engine):
    path = str(tmp_path / "als_model")
    engine.save_model(path)
    eng2 = RecommendationEngine(spark, engine.ratings, min_ratings=1)
    eng2.load_model(path)
    a = engine.get_top_ratings(5, k=5).collect()
    b = eng2.get_top_ratings(5, k=5).collect()
    assert [(r["song_id"], round(r["predicted_rating"], 5)) for r in a] == [
        (r["song_id"], round(r["predicted_rating"], 5)) for r in b
    ]


def test_best_rank_search(spark, ratings):
    eng, rmses = RecommendationEngine.train_best_rank(
        spark, ratings, ranks=(2, 4), min_ratings=1
    )
    assert set(rmses) == {2, 4}
    assert eng.model is not None
    assert eng.rank == min(rmses, key=rmses.get)


def test_add_ratings_bounds_persisted_storage(spark, tables):
    """Long-lived incremental ingestion keeps a BOUNDED set of
    persisted RDDs: superseded caches and checkpoint blocks are freed
    every cycle (previously ~2 leaked snapshots per checkpoint)."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_spark.operators.dedup import (
        _persistent_rdd_ids,
    )
    from spark_streaming_kafka_spark.recommend import RecommendationEngine

    ratings = (
        tables["events"]
        .select(
            F.col("user_id").cast("int").alias("user_id"),
            (F.col("event_id") % 50).cast("int").alias("song_id"),
            (F.col("value") % 5 + 1).cast("double").alias("rating"),
        )
        .dropDuplicates(["user_id", "song_id"])
    )
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    eng = RecommendationEngine(spark, ratings, None)
    # the construction snapshot and its per-song counts are the RDDs the
    # engine persists
    assert _persistent_rdd_ids(sc) - before == eng._ckpt_rdd_ids
    assert len(eng._ckpt_rdd_ids) == 2
    new = spark.createDataFrame(
        [(999, 1, 5.0)], "user_id int, song_id int, rating double"
    )
    for _ in range(25):  # crosses two checkpoint cycles
        eng.add_ratings(new, retrain=False)
    after = _persistent_rdd_ids(sc)
    assert len(after - before) <= 4  # bounded, not ~2 per cycle
    assert after - before == eng._ckpt_rdd_ids  # snapshot, delta, counts

    eng.unpersist()
    assert not _persistent_rdd_ids(sc) - before


def _engine_rdds(sc, ids):
    """Persisted RDD ids among ``ids`` that are not ALS factor tables
    (those belong to a model and go with it)."""
    live = sc._jsc.getPersistentRDDs()
    names = {i: live.get(i).name() for i in ids if live.get(i) is not None}
    return {i for i, n in names.items() if n not in ("userFactors", "itemFactors")}


def test_best_rank_search_frees_candidate_storage(spark, ratings):
    """Every candidate engine snapshots its own train split; each is
    freed when the candidate is discarded, so only the final engine's
    snapshot stays (besides the ALS models' factor tables)."""
    from spark_streaming_kafka_spark.operators.dedup import _persistent_rdd_ids

    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    eng, _ = RecommendationEngine.train_best_rank(
        spark, ratings, ranks=(2, 4, 6), min_ratings=1
    )
    new = _engine_rdds(sc, _persistent_rdd_ids(sc) - before)
    assert new == eng._ckpt_rdd_ids
    eng.unpersist()
    assert not _engine_rdds(sc, _persistent_rdd_ids(sc) - before)


# ---------------------------------------------------------------------
# Factor-serving path (score_saved_factors): the committed pinned
# artifact + the serving plan (parquet load -> inlined item catalog ->
# codegen dot product -> windowed top-k).
# ---------------------------------------------------------------------

def test_saved_factor_scores_match_numpy(spark):
    """Serving output equals a NumPy recomputation from the same
    parquet — pins the dot-product expression and the ranking."""
    import numpy as np
    import pyarrow.parquet as pq

    from spark_streaming_kafka_spark.recommend import (
        PINNED_FACTORS_DIR,
        score_saved_factors,
    )

    users = spark.createDataFrame([(u,) for u in [0, 7, 42, 999]], "user_id int")
    got = {
        (r.user_id, r.rec_rank): (r.item_id, r.score)
        for r in score_saved_factors(spark, users, k=3).collect()
    }

    uf = {r["id"]: np.array(r["features"]) for r in pq.read_table(
        f"{PINNED_FACTORS_DIR}/user.parquet").to_pylist()}
    itf = {r["id"]: np.array(r["features"]) for r in pq.read_table(
        f"{PINNED_FACTORS_DIR}/item.parquet").to_pylist()}
    for u in [0, 7, 42, 999]:
        scores = sorted(
            ((float(uf[u] @ v), i) for i, v in itf.items()),
            key=lambda t: (-t[0], t[1]),
        )
        for rank in (1, 2, 3):
            exp_score, exp_item = scores[rank - 1]
            item, score = got[(u, rank)]
            assert item == exp_item, (u, rank)
            assert abs(score - exp_score) < 1e-12, (u, rank)


def test_saved_factor_serving_drops_unknown_users(spark):
    """Users absent from the factor table get no rows (inner join) —
    the caller decides cold-start policy, the scorer never fabricates."""
    from spark_streaming_kafka_spark.recommend import score_saved_factors

    users = spark.createDataFrame([(5,), (123456,)], "user_id int")
    out = score_saved_factors(spark, users, k=2)
    assert sorted(r.user_id for r in out.collect()) == [5, 5]


def test_saved_factor_serving_ranks_are_dense(spark):
    from spark_streaming_kafka_spark.recommend import score_saved_factors

    users = spark.createDataFrame([(1,), (2,)], "user_id int")
    out = score_saved_factors(spark, users, k=5).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r.rec_rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_user.values())
