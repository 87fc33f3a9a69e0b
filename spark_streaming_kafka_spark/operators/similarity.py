"""Similarity search over embedding columns (``array<float>``).

Two tiers:

- :func:`cosine_topk` — exact brute-force top-k per query vector. The
  correctness baseline; O(|Q|·n·d) as one Arrow/BLAS streaming pass with
  map-side partial top-k (the corpus is scanned once, never joined).
- :func:`lsh_cosine_topk` — random-hyperplane (sign) LSH bucketing: only
  pairs agreeing on all ``n_planes`` sign bits are scored, via a
  per-bucket BLAS cosine matrix. Sub-linear candidate sets at the cost
  of recall; hyperplanes are derived deterministically from md5 so
  results are reproducible anywhere (including the DuckDB oracle).

- :func:`ivf_topk` — IVF cells: assign every vector to its nearest
  codebook centroid (:func:`ivf_assign`, shuffle-free column algebra),
  probe only the ``nprobe`` nearest cells per query. Codebook
  pluggable: the deterministic sample by default, or a trained list
  (:func:`kmeans_codebook`, :func:`lloyd_codebook_fixed`).

Vector math here deliberately lives in Arrow + BLAS (``mapInPandas`` /
``applyInPandas``), not Catalyst expressions: per-element higher-order
folds run interpreted (~dim steps per pair) and fully-unrolled column
trees cost more to codegen-compile than to run — measured on the IVF
codebook (see :func:`ivf_assign`) and re-confirmed at 64 dims for both
ANN paths. A ``pandas_udf`` dot-product (:func:`..functions.vectors`)
remains for ad-hoc wide-vector scoring.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from ..functions.vectors import cosine_similarity


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact top-k nearest neighbours (cosine) for each query vector.

    ``queries`` is small (the serving set) — collected once and shipped
    in the task closure, exactly like a broadcast dim. The corpus then
    streams ONCE through ``mapInPandas``: each Arrow batch is scored
    against all queries with a single BLAS matmul and cut to a per-batch
    partial top-k, so the shuffle into the final ranking window carries
    ≤ k·|queries| rows per batch instead of n·|queries| scored pairs —
    the map-side-combine shape that keeps a 100 TB corpus scan-bound.
    (The previous formulation — broadcast nested-loop join + per-pair
    interpreted zip_with fold — burned planes×dim interpreter steps per
    pair and shipped every scored row to the window.)

    Rounding before ranking pins order against float-fold noise;
    self-matches are excluded by id when query ids live in the corpus.
    """
    import numpy as np

    from collections.abc import Iterator

    from .windows import per_group_top_k

    q_rows = queries.select(query_id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    digits = round_digits

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ q_mat.T  # (batch, nq)
            if digits is not None:
                sims = np.round(sims, digits)
            sims[ids[:, None] == q_ids[None, :]] = -np.inf  # self-matches
            # per-batch partial top-k per query, same order as the final
            # ranking (cosine desc, neighbor id asc) — keeping k per
            # batch provably retains every global top-k row
            row_order = np.argsort(ids, kind="stable")
            s = sims[row_order].T  # (nq, batch), neighbor-id ascending
            kk = min(k, s.shape[1])
            top = np.argsort(-s, axis=1, kind="stable")[:, :kk]
            cos = np.take_along_axis(s, top, axis=1).ravel()
            keep = np.isfinite(cos)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, kk)[keep],
                    "neighbor_id": ids[row_order][top].ravel()[keep],
                    "cosine": cos[keep],
                }
            )

    # CPU-bound BLAS scan: fan a single-split input to core count
    # (no-op on many-split scans); per-batch partial top-k makes the
    # result partition-count invariant, so parallelism is free.
    from .skew import fan_out

    scored = fan_out(emb.select(id_col, vec_col)).mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )
    ranked = per_group_top_k(
        scored,
        "query_id",
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
    )
    return ranked.select("query_id", "neighbor_id", "cosine", "rank")


def hyperplane(dim: int, plane: int, scale: int = 1000) -> list[float]:
    """Deterministic pseudo-random hyperplane components in [-1, 1):
    component i = (md5_long(f"{plane}_{i}") mod 2·scale − scale)/scale.
    Derivable in any engine with md5 — no RNG state to ship."""
    import hashlib

    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"{plane}_{i}".encode()).hexdigest()[:15], 16)
        out.append((h % (2 * scale) - scale) / scale)
    return out


def signature_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a ``bucket`` column: the sign-bit signature of the vector
    against ``n_planes`` fixed hyperplanes. Vectors in the same bucket
    are mutual ANN candidates. Pure per-row math — zero shuffle."""
    bits = []
    for p in range(n_planes):
        plane = hyperplane(dim, p)
        dotp = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(c) for c in plane]),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dotp >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return emb.withColumn("bucket", sig.cast("long"))


def lsh_cosine_topk(
    emb: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate all-pairs top-k: score only same-bucket pairs.

    Two Arrow stages, ONE shuffle whose volume is O(n) rows (each vector
    travels once, keyed by bucket) — NOT the O(n²/2^planes) pair join a
    naive bucketed self-join would ship:

    1. ``mapInPandas`` bucketing — all ``n_planes`` sign bits from one
       BLAS matmul per batch (the interpreted per-element fold costs
       planes×dim interpreter steps per row).
    2. ``groupBy(bucket).applyInPandas`` — the whole bucket lands in one
       pandas frame; the full in-bucket cosine matrix is a single gemm
       (B·Bᵀ of unit rows) and the per-query top-k is two stable
       argsorts. Candidate scoring work is still Σ|bucket|² but it runs
       at BLAS speed with zero pair materialization.

    Tune ``n_planes`` so the expected bucket (n/2^planes rows) fits one
    task's memory — that is the operator's scale knob; skewed buckets
    ⇒ add planes (or band the signature like MinHash-LSH). Recall is
    per-pair (cos θ angle-dependent); raise recall by unioning rotations
    (multiple plane sets) — same plumbing, deterministic planes indexed
    by set id.
    """
    import numpy as np

    from collections.abc import Iterator

    planes = np.array(
        [hyperplane(dim, p) for p in range(n_planes)], dtype=np.float64
    )  # (planes, dim)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
    digits = round_digits

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (m @ planes.T) >= 0.0
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "vec": pdf[vec_col],
                    "bucket": bits @ weights,
                }
            )

    # NB: no fan_out here — the bucketing matmul is trivial relative to
    # the vector bytes an extra round-robin shuffle would move (measured
    # ~30% slower with it at sf0.1); the groupBy below already spreads
    # the heavy per-bucket stage across cores.
    bucketed = emb.select(id_col, vec_col).mapInPandas(
        bucketize, schema=f"vec_id long, vec {emb.schema[vec_col].dataType.simpleString()}, bucket long"
    )

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
                "rank": pd.Series(dtype="int32"),
            }
        )
        if m < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        col_order = np.argsort(ids, kind="stable")
        mat_sorted = mat[col_order]
        ids_sorted = ids[col_order]
        kk = min(k, m - 1)
        # Chunked over query rows: peak memory chunk×m, not m×m — a
        # skewed bucket degrades to more gemm calls, never an OOM. Each
        # query row's full sims row lives inside its chunk, so per-row
        # top-k is exact.
        chunk = 2048
        parts = []
        for lo in range(0, m, chunk):
            hi = min(lo + chunk, m)
            sims = mat[lo:hi] @ mat_sorted.T  # (hi-lo, m) neighbor-sorted
            if digits is not None:
                sims = np.round(sims, digits)
            sims[ids[lo:hi, None] == ids_sorted[None, :]] = -np.inf  # self
            top = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
            parts.append(
                pd.DataFrame(
                    {
                        "query_id": np.repeat(ids[lo:hi], kk),
                        "neighbor_id": ids_sorted[top].ravel(),
                        "cosine": np.take_along_axis(sims, top, axis=1).ravel(),
                        "rank": np.tile(
                            np.arange(1, kk + 1, dtype=np.int32), hi - lo
                        ),
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)

    # Explicit hash-repartition on the group key BEFORE the grouped
    # pandas stage: AQE coalesces post-shuffle partitions by BYTE size,
    # but a pandas stage's cost is per-row compute (gemm) — byte-sized
    # coalescing serializes the Python workers (measured: 2 partitions
    # for 2000 vectors ⇒ one ~1s two-worker stage). A user repartition
    # with an explicit count is exempt from AQE coalescing, and the
    # grouped shuffle is satisfied by the existing distribution, so the
    # stage runs at full core parallelism at exactly one extra no-op
    # exchange of O(n) rows. defaultParallelism scales with the cluster.
    n_parts = emb.sparkSession.sparkContext.defaultParallelism
    return (
        bucketed.repartition(n_parts, "bucket")
        .groupBy("bucket")
        .applyInPandas(
            bucket_topk,
            schema="query_id long, neighbor_id long, cosine double, rank int",
        )
    )


def _codebook_sims(
    centroids: list[tuple[int, list[float]]],
):
    """(cids ndarray, unit-normalized codebook matrix) — plus a batch
    scorer returning rounded cosines (rows × centroids)."""
    import numpy as np

    cids = np.array([c[0] for c in centroids])
    assert (np.diff(cids) > 0).all(), "centroid ids must be ascending (tiebreak)"
    cmat = np.array([c[1] for c in centroids], dtype=np.float64)
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)

    def sims(vec_series) -> "np.ndarray":
        mat = np.vstack(vec_series.to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        return np.round(mat @ cmat.T, 6)

    return cids, sims


def ivf_assign(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max rounded cosine,
    lowest centroid id as tiebreak) — the IVF cell index.

    ZERO shuffle, one streaming pass: each Arrow batch is scored against
    the codebook with one BLAS matmul inside ``mapInPandas`` — exactly
    how a 100 TB corpus gets cell-indexed once and bucketed for all
    later probes. This is the measured-right mechanism, not a
    compromise: the same math as Catalyst expressions is either
    interpreted per element (higher-order folds) or, fully unrolled,
    produces a ~0.5 MB codegen source whose Janino compilation dominates
    the job (20-50s) — codebook-sized linear algebra belongs in Arrow +
    BLAS. ``centroids`` is the trained codebook; here derived
    deterministically (see :func:`ivf_topk`), in production from
    ``pyspark.ml.clustering.KMeans`` — the plumbing is identical.
    """
    from collections.abc import Iterator

    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    cids, sims = _codebook_sims(centroids)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            # argmax returns the FIRST max ⇒ lowest cid on rounded ties
            out[out_col] = cids[np.argmax(sims(pdf[vec_col]), axis=1)]
            yield out

    schema = StructType(emb.schema.fields + [StructField(out_col, IntegerType())])
    return emb.mapInPandas(assign, schema=schema)


def kmeans_codebook(
    emb: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 5,
    max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """Train a real IVF codebook with ``pyspark.ml.clustering.KMeans``
    (distributed Lloyd's over the corpus) and return it in the
    ``(centroid_id, components)`` shape :func:`ivf_assign`/:func:`ivf_topk`
    consume — the production path the deterministic-sample codebook
    stands in for. Train once offline per corpus generation; the
    codebook (n_centroids·dim floats) then ships like any model."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("fv"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter, featuresCol="fv").fit(feat)
    return [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]


def max_cosine_to_set(
    emb: DataFrame,
    ref: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ref_id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector nearest member of a reference set: (id,
    nearest_ref_id, max_cosine rounded 6, flagged = max ≥ threshold).

    The semantic decontamination primitive — the embedding-space
    sibling of :func:`..curation.benchmark_contamination`'s n-gram
    check: flag corpus documents whose embedding is close to any
    eval-benchmark embedding (paraphrased leakage that shingle overlap
    misses). Also serves as nearest-exemplar QC against any curated
    reference set.

    Scale shape: benchmark/reference sets are small by nature — the
    ref matrix is a bounded driver collect that ships in the task
    closure (the cosine_topk contract), and the corpus streams ONCE
    through ``mapInPandas`` scoring each Arrow batch against all refs
    with one BLAS matmul. No join, no shuffle, no corpus movement; ties
    on the rounded cosine resolve to the LOWEST ref id (np.argmax
    first-occurrence over id-ascending refs), so results are
    partition-invariant and SQL-reproducible.

    Duplicate ref ids and zero-norm refs raise (a benchmark table
    should be deduped and non-degenerate); a zero-norm CORPUS vector
    has no defined cosine and surfaces as max_cosine = NULL (the
    batch-local NaN crosses the Arrow boundary as null) with
    flagged = false — visible, never silently matched.
    """
    import numpy as np

    collected = [
        (int(r[0]), np.asarray(list(r[1]), dtype=np.float64))
        for r in ref.select(ref_id_col, vec_col).collect()
    ]
    if not collected:
        raise ValueError("empty reference set")
    # sort on id alone (tuple-sort would compare ndarrays on id ties)
    refs = sorted(collected, key=lambda t: t[0])
    rids = np.array([i for i, _ in refs])
    if len(set(rids.tolist())) != len(rids):
        raise ValueError("duplicate ids in reference set")
    rmat = np.stack([v for _, v in refs])
    norms = np.linalg.norm(rmat, axis=1, keepdims=True)
    if not norms.all():
        raise ValueError("zero-norm vector in reference set")
    rmat = rmat / norms

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            # zero-norm corpus rows yield NaN similarity (documented
            # fallback) — silence the divide warning so the behavior
            # holds under np.seterr / warnings-as-errors configs too
            with np.errstate(invalid="ignore", divide="ignore"):
                mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = np.round(mat @ rmat.T, 6)
            best = sims.argmax(axis=1)  # first max ⇒ lowest ref id
            mx = sims[np.arange(len(best)), best]
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "nearest_ref_id": rids[best],
                    "max_cosine": mx,
                    "flagged": mx >= threshold,
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        score,
        schema="vec_id long, nearest_ref_id long, max_cosine double, flagged boolean",
    )


def lloyd_codebook_fixed(
    emb: DataFrame,
    n_centroids: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic fixed-iteration Lloyd's refinement of the sample
    codebook — the oracle-checkable face of the trained-codebook path
    that :func:`kmeans_codebook` (pyspark.ml KMeans) represents in
    production.

    Init is the ``n_centroids`` lowest-id vectors (the same convention
    as every "sample" codebook here); each iteration assigns all
    vectors with the EXACT :func:`ivf_assign` rule (max rounded cosine,
    lowest cid tiebreak) and re-centers each cell at its per-dimension
    double mean; an empty cell keeps its previous centroid. Every step
    is engine-portable, so a DuckDB oracle can UNROLL the iterations in
    SQL and pin the resulting centroids — and any downstream ANN answer
    built on them — value-for-value. pyspark.ml's k-means|| init is
    seeded but partitioning-sensitive, which is why the production
    trainer can't be value-pinned directly; this fixed-init twin runs
    the same Lloyd's update the trainer converges with.

    Cost: per iteration, one shuffle-free assignment pass plus one
    dimension-sized aggregation (the :func:`label_centroids` shape —
    the shuffle carries k·dim partial means, never vectors); the
    centroid collect is k·dim doubles. ``iterations`` is fixed and
    small because the codebook is trained once per corpus generation.
    """
    rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    if len(rows) < n_centroids:
        raise ValueError(
            f"need ids 0..{n_centroids - 1} present for the fixed init"
        )
    dim = len(rows[0][1])
    centroids: list[tuple[int, list[float]]] = [
        (i, v) for i, (_vid, v) in enumerate(rows)
    ]
    for _ in range(iterations):
        assigned = ivf_assign(emb, centroids, vec_col=vec_col, out_col="__cid")
        per_dim = (
            assigned.select(
                "__cid", F.posexplode(F.col(vec_col)).alias("pos", "val")
            )
            .select("__cid", "pos", F.col("val").cast("double").alias("val"))
            .groupBy("__cid", "pos")
            .agg(F.avg("val").alias("cval"))
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in per_dim:
            means.setdefault(int(r["__cid"]), {})[int(r["pos"])] = float(
                r["cval"]
            )
        centroids = [
            (cid, [means[cid][p] for p in range(dim)])
            if cid in means
            else (cid, old)
            for cid, old in centroids
        ]
    return centroids


def ivf_topk(
    emb: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 2,
    k: int = 10,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: str | list[tuple[int, list[float]]] = "sample",
) -> DataFrame:
    """IVF-style ANN: partition the corpus into ``n_centroids`` cells,
    then answer each query by scoring only the ``nprobe`` nearest cells.

    ``codebook``: ``"sample"`` (default) takes the vectors with the
    ``n_centroids`` lowest ids — deterministic and SQL-reproducible,
    which is what the oracle checks; or pass a trained
    ``[(cid, components), ...]`` directly (e.g. from
    :func:`kmeans_codebook` or :func:`lloyd_codebook_fixed`).
    Everything after the codebook is identical. Collecting the codebook
    is a bounded driver transfer (n_centroids·dim floats), the same way
    a trained model ships to executors.

    Work: corpus indexing is shuffle-free (:func:`ivf_assign`); the
    probe join broadcasts |Q|·nprobe rows against the cell-bucketed
    corpus, so each query touches ~nprobe/n_centroids of the data —
    the recall/latency dial of classic IVF.
    """
    from .windows import per_group_top_k

    import numpy as np
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    # Queries are bounded (n_queries rows) and, with the "sample"
    # codebook, a SUBSET of the codebook collect — so one bounded driver
    # transfer serves both, and the per-query probe cells are computed
    # in driver numpy instead of spinning a Python-worker stage to
    # produce |Q|·nprobe rows. (A trained model ships driver→executor
    # the same way; queries-at-scale would instead arrive as their own
    # DataFrame and probe via mapInPandas — that path is ivf_assign's.)
    if codebook == "sample":
        pool = [
            (int(r[0]), list(r[1]))
            for r in emb.filter(F.col(id_col) < max(n_centroids, n_queries))
            .select(id_col, vec_col)
            .collect()
        ]
        centroids = [(i, v) for i, v in pool if i < n_centroids]
        qrows = [(i, v) for i, v in pool if i < n_queries]
    elif isinstance(codebook, str):
        raise ValueError(f"unknown codebook {codebook!r}: pass 'sample' or a trained list")
    else:
        centroids = codebook
        qrows = [
            (int(r[0]), list(r[1]))
            for r in emb.filter(F.col(id_col) < n_queries)
            .select(id_col, vec_col)
            .collect()
        ]
    if not qrows:
        # empty query set: return an empty, correctly-typed result
        # instead of letting numpy choke on a zero-row matrix below
        from pyspark.sql.types import DoubleType

        return emb.sparkSession.createDataFrame(
            [],
            schema=StructType(
                [
                    StructField("query_id", LongType(), False),
                    StructField("neighbor_id", LongType(), False),
                    StructField("cosine", DoubleType(), False),
                    StructField("rank", IntegerType(), False),
                ]
            ),
        )
    cells = ivf_assign(emb, centroids, vec_col).select(
        id_col, vec_col, "centroid_id"
    )

    # Probe list per query: its nprobe nearest cells, same batch scorer.
    # np.argsort is stable ⇒ rounded-cosine ties break to the lowest cid
    # (cids ascending), matching the oracle's (cos DESC, cid ASC) order.
    cids, sims = _codebook_sims(centroids)
    order = np.argsort(-sims(pd.Series([v for _, v in qrows])), axis=1, kind="stable")[
        :, :nprobe
    ]
    probe_rows = [
        (int(qid), list(qvec), int(cid))
        for (qid, qvec), row in zip(qrows, order)
        for cid in cids[row]
    ]
    probes = emb.sparkSession.createDataFrame(
        probe_rows,
        schema=StructType(
            [
                StructField("query_id", LongType(), False),
                StructField("q_vec", emb.schema[vec_col].dataType, False),
                StructField("centroid_id", IntegerType(), False),
            ]
        ),
    )
    scored = (
        cells.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn(
            "cosine", F.round(cosine_similarity(F.col("q_vec"), F.col(vec_col)), 6)
        )
    )
    return per_group_top_k(
        scored.select("query_id", F.col(id_col).alias("neighbor_id"), "cosine"),
        "query_id",
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
    ).select("query_id", "neighbor_id", "cosine", "rank")


# --- embedding quality control: per-label centroids & outliers ---------

def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector: (label, centroid array<double>).

    Relational formulation: posexplode the vectors into (label, pos,
    val) and hash-aggregate avg per (label, pos) — partial aggregation
    collapses each scan partition to |labels|·dim rows map-side, so the
    shuffle is dimension-sized regardless of corpus size. The centroid
    arrays are reassembled with a sort_array over (pos, avg) structs —
    deterministic order, no window.

    Values are cast to double BEFORE averaging: float accumulation
    noise (~1e-7 relative) would break oracle round-to-6 parity; double
    keeps associativity noise at ~1e-15, absorbed by rounding.
    """
    x = vectors.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).select("label", "pos", F.col("val").cast("double").alias("val"))
    per_dim = x.groupBy("label", "pos").agg(F.avg("val").alias("cval"))
    return per_dim.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s["cval"],
        ).alias("centroid")
    )


def centroid_similarity(
    vectors: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-QC score: cosine similarity of every vector to its own
    label's centroid — the standard screen for mislabeled / outlier
    embeddings before they poison a training mix (low similarity =
    the vector does not belong to its cluster).

    The centroid table is |labels|×dim — broadcast by construction —
    so the scoring pass is a broadcast hash join + zip_with dot
    product inside codegen: scan-bound at any corpus size, no shuffle
    of the vector column at all.
    """
    from ..functions.vectors import cosine_similarity

    cents = label_centroids(vectors, label_col, vec_col)
    return (
        vectors.select(id_col, F.col(label_col).alias("label"), vec_col)
        .join(F.broadcast(cents), "label")
        .select(
            F.col(id_col),
            "label",
            F.round(
                cosine_similarity(F.col(vec_col), F.col("centroid")), 6
            ).alias("centroid_sim"),
        )
    )


def _sample_codebook(
    emb: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """:func:`ivf_topk`'s "sample" codebook: the vectors with the
    ``n_centroids`` lowest ids, collected as ``[(cid, components)]``."""
    return [
        (int(r[0]), list(r[1]))
        for r in emb.filter(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    ]


def diversity_sample(
    emb: DataFrame,
    per_cluster: int = 32,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced diversity sampling — the cluster-then-sample
    curation move (SemDeDup-family, Abbas et al. 2023): K-cluster the
    embedding space, then keep the ``per_cluster`` MOST CENTRAL members
    of every cluster. The output is a budget-bounded subset whose
    cluster coverage is uniform — a dominant topic can no longer crowd
    the sample the way a global top-N by any score lets it.

    Output: (id, cluster_id, centrality, rank) — rank 1 = the cluster's
    prototype. Downstream mixes feed ``rank <= budget_c`` per cluster.

    Plan shape (100 TB): assignment is the shuffle-free IVF mechanism
    (broadcast codebook, one BLAS matmul per Arrow batch — see
    :func:`ivf_assign`); the only shuffle is the per-cluster top-k
    window over (id, cluster_id, centrality) rows — ~16 bytes/vector,
    never the vectors themselves. The codebook is :func:`ivf_topk`'s
    "sample" one (deterministic lowest-id vectors — SQL-reproducible,
    what the oracle pins).
    """
    from collections.abc import Iterator

    import numpy as np

    from pyspark.sql import Window

    cids, sims = _codebook_sims(_sample_codebook(emb, n_centroids, id_col, vec_col))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            s = sims(pdf[vec_col])
            arg = np.argmax(s, axis=1)  # first max = lowest cid on ties
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster_id": cids[arg].astype("int32"),
                    "centrality": s[np.arange(len(arg)), arg],
                }
            )

    assigned = emb.mapInPandas(
        assign, schema=f"{id_col} long, cluster_id int, centrality double"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("centrality").desc(), F.col(id_col).asc()
    )
    return (
        assigned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_cluster)
        .select(
            id_col,
            "cluster_id",
            F.round("centrality", 6).alias("centrality"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def semdedup_prune(
    emb: DataFrame,
    threshold: float = 0.45,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023): cluster the
    embedding space, then WITHIN each cluster prune every vector that
    is near-duplicate (cosine ≥ ``threshold``) of a lower-id vector in
    the same cluster. Output: (id, cluster_id, keep, pruned_by) —
    ``pruned_by`` is the LOWEST dominating id (NULL when kept).

    Dedup rule, deliberately relational: a vector is pruned when ANY
    lower-id cluster-mate is within the threshold — not just a
    *retained* one (the greedy leader variant needs an iterative
    chain; this one is a single self-join, deterministic,
    partition-invariant, and oracle-expressible without recursion). It
    prunes a superset of leader-greedy along similarity chains — the
    conservative direction for dedup.

    Scale: the quadratic term is per-CLUSTER (Σ|cell|², the same bound
    as the per-bucket ANN gemm) — with a balanced codebook, cells are
    n/k-sized and the global cost is n²/k, tunable by ``n_centroids``;
    pairwise scoring is one BLAS gram matrix per cell inside
    ``applyInPandas``. Vectors shuffle ONCE (by cluster id).
    """
    from collections.abc import Iterator

    import numpy as np

    cids, sims = _codebook_sims(_sample_codebook(emb, n_centroids, id_col, vec_col))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf[[id_col, vec_col]].copy()
            out["cluster_id"] = cids[
                np.argmax(sims(pdf[vec_col]), axis=1)
            ].astype("int32")
            yield out

    assigned = emb.mapInPandas(
        assign,
        schema=f"{id_col} long, {vec_col} array<float>, cluster_id int",
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sim_mat = np.round(mat @ mat.T, 6)
        ids = pdf[id_col].to_numpy()
        pruned_by = np.full(len(ids), np.nan)
        for i in range(1, len(ids)):
            dom = np.nonzero(sim_mat[i, :i] >= threshold)[0]
            if len(dom):
                pruned_by[i] = ids[dom[0]]  # ids ascending -> lowest id
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": pdf["cluster_id"],
                "keep": np.isnan(pruned_by),
                "pruned_by": pruned_by,
            }
        )

    return (
        assigned.groupBy("cluster_id")
        .applyInPandas(
            prune,
            schema=f"{id_col} long, cluster_id int, keep boolean, pruned_by long",
        )
    )


def nearest_centroid_confusion(
    vectors: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid label check: assign every vector to the label
    whose centroid it is most cosine-similar to, then cross-tabulate
    against the stored label — the embedding-space confusion matrix
    that screens a labeled corpus for systematic mislabeling before
    training (off-diagonal mass = label noise or merged clusters).

    Output: (true_label, pred_label, n, avg_cos) — n vectors with that
    (stored, assigned) pair and their mean best-cosine. Deterministic:
    cosines are rounded to 9 before the arg-max so engine float noise
    can't flip an assignment, ties break toward the SMALLEST label
    (via a driver-side label→index map, so any orderable label type —
    int or string — works). Centroids come only from non-NULL-label
    rows, but ALL rows are scored: NULL-label vectors appear as
    true_label=NULL cells, deliberately, so unlabeled rows are visible
    in the QC report instead of silently dropped (and the DuckDB
    oracle agrees — its final join scores every embeddings row).

    Plan: centroids come from :func:`label_centroids` (dimension-sized
    shuffle) and are collected to the driver — |labels|×dim doubles,
    the same bounded-collect contract as the IVF codebook — then
    scored per row as LITERAL zip_with dot products inside codegen
    with an in-row struct arg-max: NO join, NO explode, NO per-vector
    shuffle. The only data shuffle is the |labels|²-bounded confusion
    aggregation. At 100 TB the vector column never moves.
    """
    from ..functions.vectors import l2_norm

    labeled = vectors.filter(F.col(label_col).isNotNull())
    cents = sorted(
        (r["label"], list(r["centroid"]))
        for r in label_centroids(labeled, label_col, vec_col).collect()
    )
    if not cents:
        raise ValueError("no centroids: empty input")
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vn = l2_norm(v)
    scored = []
    for idx, (lab, cvec) in enumerate(cents):
        lits = F.array(*[F.lit(float(x)) for x in cvec])
        cn = math.sqrt(sum(x * x for x in cvec))
        dot = F.aggregate(
            F.zip_with(v, lits, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        # Tiebreak by NEGATED INDEX into the sorted label list, not by
        # negating the label value itself — struct-max then prefers the
        # smallest label under ties while staying type-agnostic (string
        # labels would raise on arithmetic negation).
        scored.append(
            F.struct(
                F.round(dot / (vn * F.lit(cn)), 9).alias("cos"),
                F.lit(-idx).alias("neg_idx"),
            )
        )
    labels_arr = F.array(*[F.lit(lab) for lab, _ in cents])
    best = F.array_max(F.array(*scored))
    assigned = vectors.select(
        F.col(label_col).alias("true_label"),
        F.element_at(labels_arr, -best["neg_idx"] + 1).alias("pred_label"),
        best["cos"].alias("__cos"),
    )
    return assigned.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("__cos"), 6).alias("avg_cos"),
    )


# --- product quantization (PQ) ----------------------------------------

def pq_codebook(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "sample",
) -> list[list[list[float]]]:
    """Train a PQ codebook: ``codebook[j][c]`` = centroid ``c`` of
    subspace ``j`` (the dim/m-wide slice ``[j*ds, (j+1)*ds)``).

    ``"sample"`` (default) takes the ``k`` lowest-id vectors' subvectors
    as centroids — deterministic and SQL-reproducible, the same oracle
    discipline as :func:`ivf_topk`'s sample codebook. ``"kmeans"`` runs
    :func:`kmeans_codebook` per subspace (real Lloyd's on the slice —
    the production choice; everything downstream is identical).

    The codebook is m·k·(dim/m) floats (1024 for 64-dim, m=8, k=16) —
    a bounded driver object that ships in task closures like any model.
    """
    from pyspark.sql import functions as F

    if strategy == "sample":
        rows = sorted(
            (int(r[0]), list(r[1]))
            for r in emb.filter(F.col(id_col) < k).select(id_col, vec_col).collect()
        )
        vecs = [v for _, v in rows]
        if len(vecs) < k:
            raise ValueError(f"need ids 0..{k-1} present for the sample codebook")
        dim = len(vecs[0])
    elif strategy == "kmeans":
        first = emb.select(vec_col).first()
        dim = len(first[0])
        ds = dim // m
        out = []
        for j in range(m):
            sub = emb.select(
                F.slice(F.col(vec_col), j * ds + 1, ds).alias(vec_col)
            )
            cents = kmeans_codebook(sub, k, vec_col)
            out.append([list(c) for _, c in sorted(cents)])
        return out
    else:
        raise ValueError(f"unknown strategy: {strategy!r}")
    ds = dim // m
    return [[v[j * ds : (j + 1) * ds] for v in vecs] for j in range(m)]


def pq_encode(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode every vector: (id, codes array<int> of length m,
    recon_err double = ||v − reconstruction||², the sum of each
    subspace's winning distance).

    The 100 TB story: a 64-dim float32 vector is 256 B; its PQ code is
    m bytes (8 here, a 32× compression) plus one shared codebook —
    the standard way a billion-vector index fits in RAM. Encoding is
    ONE Arrow-batched pass, shuffle-free (codes are per-row facts):
    per batch, distances to all m·k centroids come from one vectorized
    (n, m, k, ds) broadcast subtract+square+sum; ties take the lowest
    code id (np.argmin first-occurrence), which is what the DuckDB
    oracle's (dist2, c) ordering reproduces.
    """
    import numpy as np

    from collections.abc import Iterator

    m = len(codebook)
    cb = np.asarray(codebook, dtype=np.float64)  # (m, k, ds)
    ds = cb.shape[2]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            S = V.reshape(len(V), m, 1, ds)           # (n, m, 1, ds)
            d2 = ((S - cb[None, :, :, :]) ** 2).sum(axis=-1)  # (n, m, k)
            codes = d2.argmin(axis=-1)                 # (n, m); ties -> lowest c
            recon = np.take_along_axis(d2, codes[:, :, None], axis=-1).sum(axis=(1, 2))
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "codes": [c.astype("int32").tolist() for c in codes],
                    "recon_err": recon,
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        encode, schema=f"vec_id long, codes array<int>, recon_err double"
    )


def _pq_query_rows(emb, n_queries, id_col, vec_col):
    """THE query-selection convention for the PQ search family (the
    ``n_queries`` lowest ids, id-sorted): one definition so the ADC
    scan and the refine re-rank can never disagree about which vectors
    are the queries."""
    import numpy as np

    qrows = sorted(
        (int(r[0]), np.asarray(list(r[1]), dtype=np.float64))
        for r in emb.filter(F.col(id_col) < n_queries)
        .select(id_col, vec_col)
        .collect()
    )
    if not qrows:
        raise ValueError("no query vectors below n_queries")
    return qrows


def pq_adc_topk(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    an (m, k) lookup table of exact subspace distances to every
    centroid ONCE, then any database vector's approximate distance is
    m table lookups summed over its codes — no float vectors touched
    at query time, which is why PQ search scans billions of codes at
    memory bandwidth.

    Queries are the ``n_queries`` lowest ids (the registry's bounded
    convention). Plan: one shuffle-free encode pass over the corpus
    (:func:`pq_encode`), LUTs in the task closure, per-batch partial
    top-k, one final |Q|·k-row window cut. Returns (query_id,
    neighbor_id, adc_dist rounded, rank); ties rank by neighbor id.
    """
    import numpy as np

    from collections.abc import Iterator

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    m = len(codebook)
    cb = np.asarray(codebook, dtype=np.float64)  # (m, k, ds)
    ds = cb.shape[2]
    qrows = _pq_query_rows(emb, n_queries, id_col, vec_col)
    # (|Q|, m, k) exact subspace distances — the ADC lookup tables
    Q = np.stack([q for _, q in qrows]).reshape(len(qrows), m, 1, ds)
    luts = ((Q - cb[None, :, :, :]) ** 2).sum(axis=-1)
    qids = [qid for qid, _ in qrows]

    codes_df = pq_encode(emb, codebook, id_col, vec_col)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.array([np.asarray(c) for c in pdf["codes"]])  # (n, m)
            # dists[q, n] = sum_j luts[q, j, C[n, j]] — one gather per
            # subspace (m is small; the gather is the whole ADC trick)
            dists = np.zeros((len(qids), len(C)))
            for j in range(m):
                dists += luts[:, j, C[:, j]]
            out = {"query_id": [], "neighbor_id": [], "adc_dist": []}
            for qi, qid in enumerate(qids):
                row = dists[qi]
                nb = pdf["vec_id"].to_numpy()
                keep = nb != qid
                row, nbk = row[keep], nb[keep]
                # Per-batch partial top-k MUST use the same tiebreak as
                # the final window (rounded dist, then neighbor id):
                # identical PQ codes give exactly equal ADC distance, so
                # a plain argsort could keep arbitrary batch-order rows
                # on >k-way ties and drop the global rightful winner.
                cut = np.lexsort((nbk, np.round(row, 6)))[:k]
                out["query_id"] += [qid] * len(cut)
                out["neighbor_id"] += nbk[cut].tolist()
                out["adc_dist"] += row[cut].tolist()
            yield pd.DataFrame(out)

    partial = codes_df.mapInPandas(
        score, schema="query_id long, neighbor_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("adc_dist", 6).asc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("adc_dist", F.round("adc_dist", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", F.col("rank").cast("int").alias("rank"))
    )


def pq_adc_topk_refined(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    n_queries: int = 5,
    k: int = 10,
    refine_n: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search with the standard IVF-PQ *refine* step: the ADC code
    scan over-fetches ``refine_n`` candidates per query (cheap — still
    m-byte codes at memory bandwidth), then ONLY those |Q|·refine_n
    rows have their exact float vectors fetched and re-ranked by true
    squared-L2. This is the production shape (Jégou et al. 2011 §V;
    faiss ``IndexIVFPQR``): the compressed scan does the winnowing, the
    exact pass fixes quantization's rank errors — recall@10 goes from
    the 0.26–0.52 of raw ADC (docs/RECALL.md) to ~0.98 at refine_n=200
    on the near-random worst-case testdata (structured real embeddings
    reach ≥0.9 at refine_n≈5·k) while the corpus's float vectors are
    touched for only refine_n rows per query.

    Plan at 100 TB: one shuffle-free encode+scan pass (ADC), then the
    candidate id-set — a |Q|·refine_n-row frame — is BROADCAST against
    the corpus to fetch candidate vectors (a semi-join-shaped scan that
    prunes to two columns and never shuffles the corpus), and the exact
    distances are computed in-row against query-vector LITERALS inside
    one Arrow batch. Final cut is a |Q|·refine_n-row window. Returns
    (query_id, neighbor_id, exact_dist rounded 6, rank); ties rank by
    neighbor id, same contract as every other ANN path here.
    """
    import numpy as np

    from pyspark.sql.window import Window

    cand = pq_adc_topk(
        emb, codebook, n_queries=n_queries, k=refine_n,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    Q = dict(_pq_query_rows(emb, n_queries, id_col, vec_col))

    # Fetch exact vectors for candidates only: broadcast the tiny
    # candidate frame into the corpus scan (column-pruned to id+vec).
    fetched = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vec")
    ).join(F.broadcast(cand), "neighbor_id")

    def rerank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["__vec"]])
            qv = np.stack([Q[q] for q in pdf["query_id"]])
            d = ((V - qv) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "exact_dist": d,
                }
            )

    exact = fetched.mapInPandas(
        rerank, schema="query_id long, neighbor_id long, exact_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("exact_dist", 6).asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("exact_dist", F.round("exact_dist", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "exact_dist",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def contrastive_pairs(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Contrastive training-pair mining: for each query vector, its
    nearest same-label neighbour (the positive) and nearest
    different-label neighbour (the HARD negative) — ``(query_id,
    label, positive_id, positive_cos, negative_id, negative_cos)``.

    The retrieval/embedding-finetune data builder: hard negatives
    (closest wrong-label items) are what make contrastive training
    effective, and mining them is a corpus-scale nearest-neighbour
    pass. Queries lacking either a same-label or different-label
    mate are dropped (inner semantics — a pair needs both legs).

    Scale shape (the cosine_topk contract): queries are a bounded
    collect shipped in the task closure; the corpus streams ONCE
    through ``mapInPandas``, each Arrow batch scored against all
    queries with one BLAS matmul and cut to a per-batch best per
    (query, leg) — the shuffle into the final ranking carries ≤
    2·|queries| rows per batch. Ties on the rounded cosine resolve to
    the lowest candidate id (stable argmax over id-sorted rows), so
    results are partition-invariant and SQL-reproducible.
    """
    import numpy as np

    q_rows = queries.select(query_id_col, label_col, vec_col).collect()
    if not q_rows:
        raise ValueError("empty query set")
    q_rows = sorted(q_rows, key=lambda r: r[0])
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_labs = np.array([r[1] for r in q_rows], dtype=np.int64)
    q_mat = np.array([list(r[2]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(q_mat, axis=1, keepdims=True)
    if not qn.all():
        raise ValueError("zero-norm vector in query set")
    q_mat /= qn
    digits = round_digits

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            labs = pdf[label_col].to_numpy()
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            # zero-norm corpus rows can never match: NaN similarities
            # are forced to -inf so they cannot hijack the argmax
            with np.errstate(invalid="ignore", divide="ignore"):
                mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            order = np.argsort(ids, kind="stable")
            ids, labs, mat = ids[order], labs[order], mat[order]
            sims = np.round(mat @ q_mat.T, digits)  # (batch, nq)
            sims[np.isnan(sims)] = -np.inf
            sims[ids[:, None] == q_ids[None, :]] = -np.inf  # self
            same = labs[:, None] == q_labs[None, :]
            out_q, out_same, out_id, out_cos = [], [], [], []
            for flag, mask in ((1, same), (0, ~same)):
                s = np.where(mask, sims, -np.inf)
                best = s.argmax(axis=0)  # stable: lowest row (= id) on ties
                cos = s[best, np.arange(len(q_ids))]
                keep = np.isfinite(cos)
                out_q.append(q_ids[keep])
                out_same.append(np.full(keep.sum(), flag))
                out_id.append(ids[best[keep]])
                out_cos.append(cos[keep])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "same": np.concatenate(out_same),
                    "cand_id": np.concatenate(out_id),
                    "cos": np.concatenate(out_cos),
                }
            )

    from .skew import fan_out
    from .windows import per_group_top_k

    scored = fan_out(emb.select(id_col, label_col, vec_col)).mapInPandas(
        score, schema="query_id long, same int, cand_id long, cos double"
    )
    best = per_group_top_k(
        scored,
        ["query_id", "same"],
        [F.col("cos").desc(), F.col("cand_id").asc()],
        1,
    )
    pos = best.filter(F.col("same") == 1).select(
        "query_id",
        F.col("cand_id").alias("positive_id"),
        F.col("cos").alias("positive_cos"),
    )
    neg = best.filter(F.col("same") == 0).select(
        "query_id",
        F.col("cand_id").alias("negative_id"),
        F.col("cos").alias("negative_cos"),
    )
    qlab = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(label_col).alias("label")
    )
    return (
        pos.join(neg, "query_id")
        .join(F.broadcast(qlab), "query_id")
        .select(
            "query_id", "label", "positive_id", "positive_cos",
            "negative_id", "negative_cos",
        )
    )
