"""RecommendationEngine — DataFrame edition of the reference's query API.

API parity with ``engine.py:83-112`` (``__init__``), ``:50-62``
(``add_ratings``), ``:64-71`` (``get_ratings_for_music_ids``), ``:73-81``
(``get_top_ratings``), plus the all-users generalization the reference
couldn't express (driver-side takeOrdered served one user at a time).

Mechanical deltas from the reference, by design:

- ``pyspark.ml.recommendation.ALS`` (DataFrame) replaces
  ``pyspark.mllib`` (RDD). Same model family, same hyperparameters
  (rank grid {4,8,12}, maxIter 10, regParam 0.1, seed 5 — matching
  ``spark_music.py:21-34``); factors remain inspectable DataFrames.
- Candidate generation is a left_anti join (``catalog − rated``)
  instead of the driver-list NOT-IN with the exhausted-generator bug
  (``spark_kafka.py:108-110``).
- Batch serving (``get_top_ratings_for_users``) scores straight from the
  ALS factors: the batch users' factor rows (userFactors ⋈ broadcast
  users) cross the one broadcast item table (itemFactors ⋈ supported
  rating counts ⋈ titles), a codegen'd float dot product scores every
  pair, a left-anti join drops the pairs the users already rated, and
  one window per user keeps the top k. No factor table is shuffled and
  nothing is collected to the driver until the result (the reference
  did 4 driver round-trips per request, SURVEY.md §3 E1). The
  single-user and pair paths keep ``ALSModel.transform``.
- Retrain is explicit (``retrain()``), not implicit per added batch:
  full-refit ALS per micro-batch is the reference's dominant cost and
  is not sustainable at its own 1 s interval; cadence is the caller's
  policy knob (see streaming/recommend_stream.py).

Scale: ALS itself is Spark-distributed (block factorization), with the
reference's block rule (``mllib`` ``ALS.train(blocks=-1)`` resolves to
``max(defaultParallelism, partitions / 2)`` user and item blocks;
``pyspark.ml``'s fixed 10×10 only adds tasks on a small box). The
history is an engine-owned localCheckpoint snapshot from construction
on, so no batch re-analyses the caller's plan (a ``createDataFrame``
history is a LocalRelation holding every row, which every later plan
would otherwise carry and re-analyse), plus ONE single-partition delta
holding everything added since the last checkpoint: each add folds the
batch into the delta, so the history stays at the snapshot's partitions
+ 1 and tasks per batch stay flat. Every ``_CHECKPOINT_EVERY`` adds the
delta is folded into a new snapshot, coalesced back to the construction
snapshot's partition count. Rating counts are running ``(n, sum)`` per
song, merged with each batch's rows in one task; ``avg_rating`` is
derived when read, so no batch recounts the history.
"""

from __future__ import annotations

from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.recommendation import ALS, ALSModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.relational import anti_join, semi_join, top_k, union_ratings

_CHECKPOINT_EVERY = 10


def _rdd_id(ckpt: DataFrame) -> int:
    """Id of the internal RDD behind a localCheckpoint DataFrame."""
    return ckpt._jdf.queryExecution().logical().rdd().id()


class RecommendationEngine:
    """Music (or any user×item) recommender over a ratings DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        ratings: DataFrame,
        metadata: DataFrame | None = None,
        rank: int = 4,
        max_iter: int = 10,
        reg_param: float = 0.1,
        seed: int = 5,
        min_ratings: int = 25,
    ) -> None:
        """``ratings``: (user_id int, song_id int, rating double);
        ``metadata``: song catalog with at least (new_song_ID, title).

        ``ratings`` is materialized once into an engine-owned snapshot
        (and its per-song counts); the caller's DataFrame (and any cache
        on it) is not touched again."""
        self.spark = spark
        self.metadata = metadata.cache() if metadata is not None else None
        self.rank = rank
        self.max_iter = max_iter
        self.reg_param = reg_param
        self.seed = seed
        self.min_ratings = min_ratings
        self.model: ALSModel | None = None
        self._adds_since_checkpoint = 0
        #: ids of every checkpoint RDD the engine owns (snapshot, delta,
        #: counts): exactly the RDDs it keeps persisted
        self._ckpt_rdd_ids: set[int] = set()
        self._snap = self._checkpoint(ratings)
        self._delta: DataFrame | None = None
        self.ratings = self._snap
        self._history_partitions = self._snap.rdd.getNumPartitions()
        self._counts = self._checkpoint(
            self._snap.groupBy("song_id")
            .agg(
                F.count(F.lit(1)).alias("n_ratings"),
                F.sum("rating").alias("rating_sum"),
            )
            .coalesce(1)
        )

    def _checkpoint(self, df: DataFrame, replaces: DataFrame | None = None) -> DataFrame:
        """``df`` materialized as an engine-owned eager localCheckpoint (a
        ``LogicalRDD`` plan), after which ``replaces`` (an earlier
        checkpoint the result supersedes) is freed."""
        ckpt = df.localCheckpoint(eager=True)
        self._ckpt_rdd_ids.add(_rdd_id(ckpt))
        if replaces is not None:
            self._free(replaces)
        return ckpt

    def _free(self, ckpt: DataFrame) -> None:
        """Free an engine checkpoint's blocks by RDD id —
        ``DataFrame.unpersist()`` does not release a localCheckpoint's
        internal RDD (see operators/dedup.py::_unpersist_rdds)."""
        from .operators.dedup import _unpersist_rdds

        rid = _rdd_id(ckpt)
        _unpersist_rdds(self.spark.sparkContext, {rid})
        self._ckpt_rdd_ids.discard(rid)

    def unpersist(self) -> None:
        """Free everything the engine keeps resident: the history
        snapshot and delta and the rating counts."""
        from .operators.dedup import _unpersist_rdds

        _unpersist_rdds(self.spark.sparkContext, self._ckpt_rdd_ids)
        self._ckpt_rdd_ids = set()

    # -- reference: engine.py:20-28 (__count_and_average_ratings) -------
    @property
    def rating_counts(self) -> DataFrame:
        """(song_id, n_ratings, avg_rating) over the whole history, read
        from the running per-song ``(n, sum)``: the same rows as
        ``counts_and_averages(self.ratings, "song_id", "rating")``. The
        average is ``sum / n`` in doubles, as Spark's ``avg`` computes
        it, so it is bit-equal whenever the sum is exact — any ratings on
        a half-unit grid, such as the 1–5 stars of the ETL and the
        reference. For arbitrary doubles the running sum adds in batch
        order, not the recount's partition order, and may differ in the
        last place."""
        return self._counts.select(
            "song_id",
            "n_ratings",
            (F.col("rating_sum") / F.col("n_ratings")).alias("avg_rating"),
        )

    # -- reference: engine.py:30-37 (__train_model) ----------------------
    def retrain(self) -> None:
        """Refit ALS on the whole history. Blocks follow the reference's
        ``mllib`` rule (``blocks=-1``): ``max(defaultParallelism,
        partitions // 2)``."""
        blocks = max(
            self.spark.sparkContext.defaultParallelism,
            self.ratings.rdd.getNumPartitions() // 2,
        )
        als = ALS(
            rank=self.rank,
            maxIter=self.max_iter,
            regParam=self.reg_param,
            seed=self.seed,
            userCol="user_id",
            itemCol="song_id",
            ratingCol="rating",
            coldStartStrategy="drop",
            numUserBlocks=blocks,
            numItemBlocks=blocks,
        )
        self.model = als.fit(self.ratings)

    # -- reference: engine.py:50-62 (add_ratings) ------------------------
    def add_ratings(self, new_ratings: DataFrame, retrain: bool = True) -> None:
        """Union new ratings into history (U1). The reference retrains on
        every add; here it's a flag so streaming callers set cadence.

        The cost of an add is its own rows', not the history's: between
        checkpoints it runs two one-task jobs whatever the history size.
        - The batch is folded into the single-partition delta (the
          history is the snapshot ∪ the delta), so the history stays at
          the snapshot's partitions + 1. Every ``_CHECKPOINT_EVERY``-th
          add folds snapshot and delta into a new snapshot instead,
          coalesced to the construction snapshot's partition count.
        - The running ``(n, sum)`` per song is merged with the batch's
          rows (see ``rating_counts``).

        Storage is strictly bounded on a long-lived stream: one snapshot,
        at most one delta and one counts table stay resident, each an
        eager localCheckpoint that frees the one it replaces. ``new_ratings``
        is read once per job and not retained."""
        new = new_ratings.select("user_id", "song_id", "rating")
        self._adds_since_checkpoint += 1
        pending = new if self._delta is None else union_ratings(self._delta, new)
        if self._adds_since_checkpoint >= _CHECKPOINT_EVERY:
            # Truncate lineage and width: the snapshot absorbs the delta.
            self._snap = self._checkpoint(
                union_ratings(self._snap, pending).coalesce(self._history_partitions),
                replaces=self._snap,
            )
            if self._delta is not None:
                self._free(self._delta)
            self._delta = None
            self._adds_since_checkpoint = 0
            self.ratings = self._snap
        else:
            self._delta = self._checkpoint(pending.coalesce(1), replaces=self._delta)
            self.ratings = union_ratings(self._snap, self._delta)
        batch_sums = new.select(
            "song_id",
            F.lit(1).cast("long").alias("n_ratings"),
            F.col("rating").alias("rating_sum"),
        )
        # One partition in, so the aggregate needs no shuffle.
        self._counts = self._checkpoint(
            self._counts.unionByName(batch_sums)
            .coalesce(1)
            .groupBy("song_id")
            .agg(
                F.sum("n_ratings").alias("n_ratings"),
                F.sum("rating_sum").alias("rating_sum"),
            ),
            replaces=self._counts,
        )
        if retrain:
            self.retrain()

    # -- reference: engine.py:64-71 (get_ratings_for_music_ids) ----------
    def predict_for_pairs(self, pairs: DataFrame) -> DataFrame:
        """Predicted rating for explicit (user_id, song_id) pairs, with
        title/count context: the reference's get_ratings_for_music_ids."""
        self._require_model()
        preds = self.model.transform(pairs)
        return self._with_context(preds)

    # -- reference: engine.py:73-81 (get_top_ratings) --------------------
    def get_top_ratings(self, user_id: int, k: int = 25) -> DataFrame:
        """Top-k unrated songs for one user (min_ratings support filter).

        Candidates = catalog anti-join user's rated songs — computed
        distributed, never as a driver list.
        """
        self._require_model()
        rated = self.ratings.filter(F.col("user_id") == user_id).select("song_id")
        candidates = anti_join(
            self.rating_counts.select("song_id"), rated, "song_id"
        ).withColumn("user_id", F.lit(user_id))
        preds = self.model.transform(candidates)
        scored = self._with_context(preds).filter(
            F.col("num_ratings") >= self.min_ratings
        )
        return top_k(
            scored,
            [F.col("predicted_rating").desc(), F.col("song_id").asc()],
            k,
        )

    def get_top_ratings_for_users(self, users: DataFrame, k: int = 25) -> DataFrame:
        """Batch form of :meth:`get_top_ratings`: top-k unrated songs for
        EVERY user in ``users`` (a one-column user_id DataFrame) in ONE
        distributed plan.

        Same rows per user as the single-user path, bit for bit
        (candidates = supported catalog − user's rated songs, scored by
        the model; order by predicted_rating desc, song_id asc), but
        scored straight from the ALS factors instead of
        ``ALSModel.transform``, whose two sort-merge joins shuffle both
        full factor tables on every call:

        - the batch users' factor rows: userFactors ⋈ broadcast(distinct
          users) — users without factors yet (cold start) drop out here,
          as ``coldStartStrategy="drop"`` drops them in ``transform``;
        - crossed with ONE broadcast item table: itemFactors ⋈ supported
          rating counts (⋈ titles when ``metadata`` is set);
        - scored by a codegen'd float expression that adds the products
          left to right from 0.0f, the same accumulation as ALS's own
          prediction, so the scores equal ``transform``'s exactly;
        - minus the batch users' rated pairs (broadcast left-anti join);
        - top-k per user by one window (``per_group_top_k``).

        A micro-batch with 10k distinct users is still one plan, not 10k
        jobs with a 10k-deep union plan (reference served one user per
        request, ``engine.py:73-81``).
        """
        self._require_model()
        from .operators.windows import per_group_top_k

        users = users.select("user_id").distinct()
        user_f = self.model.userFactors.select(
            F.col("id").alias("user_id"), F.col("features").alias("uf")
        ).join(F.broadcast(users), "user_id")
        items = self.model.itemFactors.select(
            F.col("id").alias("song_id"), F.col("features").alias("vf")
        ).join(
            self.rating_counts.filter(F.col("n_ratings") >= self.min_ratings),
            "song_id",
        )
        context = [F.col("n_ratings").alias("num_ratings"), "avg_rating"]
        if self.metadata is not None:
            items = items.join(self._titles(), "song_id")
            context.append("title")
        dot = " + ".join(
            ["CAST(0.0 AS FLOAT)"]
            + [f"uf[{d}] * vf[{d}]" for d in range(self.model.rank)]
        )
        scored = user_f.crossJoin(F.broadcast(items)).select(
            "user_id",
            "song_id",
            F.expr(dot).alias("predicted_rating"),
            *context,
        )
        # Both hints keep the history and the scored grid unshuffled:
        # the batch users and their rated pairs are the small sides.
        rated = semi_join(
            self.ratings.select("user_id", "song_id"), F.broadcast(users), "user_id"
        )
        return per_group_top_k(
            anti_join(scored, F.broadcast(rated), ["user_id", "song_id"]),
            "user_id",
            [F.col("predicted_rating").desc(), F.col("song_id").asc()],
            k,
        ).drop("rank")

    def recommend_for_all_users(self, k: int = 25) -> DataFrame:
        """All-users top-k in one distributed pass — the generalization
        the reference's per-user driver loop couldn't do. Uses ALS's
        native blocked top-k (recommendForAllUsers), then explodes."""
        self._require_model()
        recs = self.model.recommendForAllUsers(k)
        return recs.select(
            "user_id",
            F.posexplode("recommendations").alias("rank0", "rec"),
        ).select(
            "user_id",
            (F.col("rank0") + 1).alias("rank"),
            F.col("rec.song_id").alias("song_id"),
            F.col("rec.rating").alias("predicted_rating"),
        )

    # -- reference: spark_music.py:35-44 (RMSE validation) ---------------
    def evaluate_rmse(self, test: DataFrame) -> float:
        self._require_model()
        preds = self.model.transform(test)
        evaluator = RegressionEvaluator(
            metricName="rmse", labelCol="rating", predictionCol="prediction"
        )
        return float(evaluator.evaluate(preds))

    # -- reference: spark_music.py:24-44 (rank grid search) --------------
    @classmethod
    def train_best_rank(
        cls,
        spark: SparkSession,
        ratings: DataFrame,
        metadata: DataFrame | None = None,
        ranks: tuple[int, ...] = (4, 8, 12),
        seed_split: int = 0,
        **kwargs,
    ) -> tuple["RecommendationEngine", dict[int, float]]:
        """60/20/20 split, pick the rank minimizing validation RMSE
        (reference grid {4,8,12} → best 4), refit on train+val, then
        score the held-out test split (reference ``spark_music.py:53-56``)
        — exposed as ``final.test_rmse_`` so the 20% test partition is
        actually consumed, not silently discarded. Each candidate engine
        owns a snapshot of the train split; its storage (snapshot and
        rating counts) is freed as soon as it is discarded."""
        train, val, test = ratings.randomSplit([0.6, 0.2, 0.2], seed=seed_split)
        rmses: dict[int, float] = {}
        best_rank, best = None, float("inf")
        for rank in ranks:
            eng = cls(spark, train, metadata, rank=rank, **kwargs)
            eng.retrain()
            r = eng.evaluate_rmse(val)
            rmses[rank] = r
            if r < best:
                best, best_rank = r, rank
            eng.unpersist()  # candidate discarded
        final = cls(spark, train.unionByName(val), metadata, rank=best_rank, **kwargs)
        final.retrain()
        final.test_rmse_ = final.evaluate_rmse(test)
        return final, rmses

    # -- reference: spark_music.py:116,123 (model save/load, S16/M3) -----
    def save_model(self, path: str) -> None:
        self._require_model()
        self.model.write().overwrite().save(path)

    def load_model(self, path: str) -> None:
        self.model = ALSModel.load(path)

    # ---------------------------------------------------------------
    def _with_context(self, preds: DataFrame) -> DataFrame:
        """J1/J2 — predictions ⋈ titles ⋈ counts as one select over
        broadcast joins; output matches the reference tuple shape
        (title, predicted_rating, num_ratings) plus ids."""
        out = preds.join(F.broadcast(self.rating_counts), "song_id")
        cols = [
            "user_id",
            "song_id",
            F.col("prediction").alias("predicted_rating"),
            F.col("n_ratings").alias("num_ratings"),
            "avg_rating",
        ]
        if self.metadata is not None:
            out = out.join(F.broadcast(self._titles()), "song_id")
            cols.append("title")
        return out.select(*cols)

    def _titles(self) -> DataFrame:
        return self.metadata.select(F.col("new_song_ID").alias("song_id"), "title")

    def _require_model(self) -> None:
        if self.model is None:
            raise RuntimeError("no model: call retrain() or load_model() first")


# =====================================================================
# Factor-serving path (S16/M2/M3): score from SAVED factors, no model
# object and no retrain — the reference's steady-state serving mode
# (engine.py:43 loads `music_lens_als/data/{user,product}` parquet and
# answers top-k from it; spark_kafka.py:120 shapes the output).
# =====================================================================

import os as _os

#: Committed deterministic factor artifact (tools/make_pinned_factors.py)
#: mirroring the reference's saved-model shape: `id INT, features
#: array<double>`, rank 4, 1000 users / 100 items.
PINNED_FACTORS_DIR = _os.path.join(
    _os.path.dirname(_os.path.abspath(__file__)), "data", "als_factors"
)


def score_saved_factors(
    spark: SparkSession,
    users: DataFrame,
    k: int = 5,
    user_factors_path: str | None = None,
    item_factors_path: str | None = None,
    user_id_col: str = "user_id",
) -> DataFrame:
    """Top-``k`` items per requested user from saved factor parquet.

    Plan shape (the one a 1000-executor serving job wants):

    - **Item factors are model state of bounded dimension** (the
      reference catalog is 100 products; even web-scale catalogs are
      millions of rows × small rank — a dimension table). They are read
      DRIVER-SIDE via pyarrow at plan build (a local-file read, no
      Spark job) and inlined as one ``array(named_struct(...))``
      literal that ``explode`` expands — a narrow op, so the plan has
      no crossJoin/BroadcastNestedLoopJoin (plan-audit clean) and the
      user side is never shuffled for scoring.
    - **User factors are a distributed parquet scan** joined to the
      request set; the pinned artifact side is broadcast. At real scale
      whichever side is smaller broadcasts — AQE's call when stats are
      fresh; the explicit hint here pins the bounded artifact.
    - **Scoring is a codegen'd expression** ``f[0]*g[0] + ... +
      f[r-1]*g[r-1]`` built as ONE ``F.expr`` string (a higher-order
      ``zip_with``/``aggregate`` fold runs interpreted and costs
      hundreds of Py4J round-trips to build — the minhash 'expr'
      lesson), with left-to-right addition order so the DuckDB oracle's
      ``p0+p1+p2+p3`` reproduces the doubles bit-for-bit.
    - Ranking is one window (``row_number`` per user, score DESC with
      item_id tiebreak) — the only shuffle in the plan.

    Returns ``(user_id, rec_rank, item_id, score)``.
    """
    import pyarrow.parquet as _pq

    upath = user_factors_path or _os.path.join(PINNED_FACTORS_DIR, "user.parquet")
    ipath = item_factors_path or _os.path.join(PINNED_FACTORS_DIR, "item.parquet")

    items = _pq.read_table(ipath).to_pylist()
    if not items:
        raise ValueError(f"empty item factor table: {ipath}")
    rank = len(items[0]["features"])
    # repr() is shortest-round-trip; the 'D' suffix parses as DOUBLE
    # (a bare decimal literal would parse as DECIMAL and break the
    # bit-exactness contract with the oracle).
    item_lit = "array(" + ", ".join(
        "named_struct('item_id', {id}, 'ifeat', array({fs}))".format(
            id=int(r["id"]), fs=", ".join(f"{repr(float(v))}D" for v in r["features"])
        )
        for r in items
    ) + ")"
    dot = " + ".join(f"features[{d}] * it.ifeat[{d}]" for d in range(rank))

    uf = spark.read.parquet(upath)
    req = users.select(F.col(user_id_col).cast("int").alias("user_id"))
    joined = req.join(
        F.broadcast(uf.select(F.col("id").cast("int").alias("user_id"), "features")),
        "user_id",
    )
    scored = joined.select(
        "user_id", F.expr(f"explode({item_lit})").alias("it"), "features"
    ).select(
        "user_id",
        F.col("it.item_id").cast("int").alias("item_id"),
        F.expr(dot).alias("score"),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_id"))
    return (
        scored.withColumn("rec_rank", F.row_number().over(w))
        .filter(F.col("rec_rank") <= k)
        .select("user_id", F.col("rec_rank").cast("int").alias("rec_rank"), "item_id", "score")
    )
