"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023).

The published recipe for "give me raw-web documents that look like my
high-quality seed corpus": fit two bag-of-hashed-ngram models — one on
the target (seed) distribution, one on the raw pool — and score every
raw document by its log importance ratio

    log w(doc) = sum_{token} [ ln p_target(b(token)) - ln p_raw(b(token)) ]

where ``b(token)`` hashes the token into a fixed number of buckets.
Selection keeps the top-weighted documents (the paper resamples with
Gumbel noise; the deterministic top-k variant is registered here so the
result is oracle-checkable — swap in hash-derived Gumbel keys for the
resampling variant the same way the package's other samplers do).

Why this scales to 100 TB:

- Both "models" are ``buckets``-sized count tables (hash-feature
  trick): the shuffle after map-side combine carries at most
  ``buckets`` rows per side, never tokens; the fitted log-ratio table
  broadcasts to the scoring pass.
- Scoring is one scan of the raw corpus: explode + broadcast-join +
  per-doc aggregation, all codegen'd column algebra — no UDFs.
- At oracle scale the count products stay < 2^53 so the single-division
  likelihood ratio is bit-identical across engines; at 100 TB the same
  expression degrades gracefully to ordinary double precision.

Hashing is the engine-portable md5 primitive
(:mod:`..functions.hashing`), so the DuckDB oracle in queries.py
replays the identical feature extraction, smoothing, and ratio.

Reference anchor: the reference has no data-selection surface at all —
its ingest keeps everything (spark_streaming_kafka.py:150 counts every
word of every message); DSIR is the published answer to "which of
these documents are worth training on", which any corpus at this
volume needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from .dedup import tokenize

__all__ = ["dsir_weights", "dsir_select_topk"]


def _bucketed_tokens(
    docs: DataFrame, text_col: str, id_col: str, buckets: int
) -> DataFrame:
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("term"),
    )
    return tok.withColumn("b", (md5_long(F.col("term")) % F.lit(buckets)).cast("int"))


def _logratios_from_counts(ct: DataFrame, cs: DataFrame, buckets: int) -> DataFrame:
    """Bucket count tables → the per-bucket log importance ratio (b, lam):

        lam(b) = ln( (ct(b)+1) * (Ns+B)  /  ((cs(b)+1) * (Nt+B)) )

    i.e. ln of the ratio of add-one-smoothed bucket probabilities,
    algebraically rearranged into ONE division of two products so the
    value is reduction-order and engine independent. Each factor is
    cast to DOUBLE *before* the multiply: below 2^53 tokens per side
    the double product is exact (bit-identical to the integer product),
    and beyond that it rounds gracefully instead of wrapping the way a
    64-bit integer product would past 2^63 (~3e9 tokens/side with the
    default 4096 buckets). The output has at most ``buckets`` rows —
    broadcastable by construction.

    Totals Nt/Ns come from an unpartitioned window over the joined
    ≤``buckets``-row table (one trivial single-partition pass), NOT
    driver collects — the whole ratio fit stays one lazy, composable
    plan with zero driver round-trips (r7; the collect form cost two
    sequential jobs per fit)."""
    from pyspark.sql import Window

    joined = ct.join(cs, "b", "full").select(
        "b",
        F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
        F.coalesce(F.col("cs"), F.lit(0)).alias("cs"),
    )
    w = Window.partitionBy()
    tot = joined.select(
        "*",
        F.sum("ct").over(w).alias("nt"),
        F.sum("cs").over(w).alias("ns"),
    )
    # Cast BEFORE multiplying: long*long wraps silently past 2^63 in
    # non-ANSI Spark, double*double merely rounds (and is exact <2^53).
    num = (F.col("ct") + F.lit(1)).cast("double") * (
        F.col("ns") + F.lit(buckets)
    ).cast("double")
    den = (F.col("cs") + F.lit(1)).cast("double") * (
        F.col("nt") + F.lit(buckets)
    ).cast("double")
    return tot.select("b", F.log(num / den).alias("lam"))


def dsir_weights(
    target: DataFrame,
    raw: DataFrame,
    buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every RAW document: (doc_id, n_tokens, logw_sum, logw_avg).

    ``logw_sum`` is the paper's document-level log importance weight
    (sum over tokens of the bucket log-ratio — favors long on-target
    docs); ``logw_avg`` is the length-normalized per-token variant.

    The raw corpus EXPLODES ONCE (r7): tokens reduce to the
    (doc_id, bucket, c) count table first; the raw-side model counts
    ``cs`` derive from that table (bucket-sized second agg, no second
    explode) and the scoring pass is a broadcast join of the same
    table with the ≤``buckets``-row ratio table —
    ``sum(c · lam)`` replaces per-token ``sum(lam)`` (equal by
    distributivity; the DuckDB oracle computes the identical grouped
    form). Both consumers aggregate one frame, so the (doc_id, b)
    exchange is planned once and reused. Unmatched buckets cannot
    occur (the raw corpus's own tokens always have cs ≥ 1)."""
    raw_cnt = (
        _bucketed_tokens(raw, text_col, id_col, buckets)
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cs = raw_cnt.groupBy("b").agg(F.sum("c").alias("cs"))
    ct = (
        _bucketed_tokens(target, text_col, id_col, buckets)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    lam = _logratios_from_counts(ct, cs, buckets)
    scored = raw_cnt.join(F.broadcast(lam), "b")
    clam = F.col("c").cast("double") * F.col("lam")
    return scored.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.round(F.sum(clam), 4).alias("logw_sum"),
        F.round(F.sum(clam) / F.sum("c").cast("double"), 6).alias("logw_avg"),
    )


def dsir_select_topk(
    target: DataFrame,
    raw: DataFrame,
    k: int = 200,
    buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic DSIR selection: the ``k`` raw documents with the
    highest document-level importance weight (tie → ascending doc id).
    TakeOrderedAndProject over the scored table — no full sort."""
    from .relational import top_k

    w = dsir_weights(target, raw, buckets, text_col, id_col)
    return top_k(w, [F.col("logw_sum").desc(), F.col("doc_id").asc()], k)
