"""DSIR importance resampling (operators/dsir.py): the selection must
actually prefer raw documents that look like the target distribution,
and the ratio table must stay bucket-bounded."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_kafka_spark.operators.dsir import (
    dsir_select_topk,
    dsir_weights,
)


def _corpus(spark):
    # Target speaks "alpha beta gamma"; raw pool mixes on-target docs
    # (ids 0-9) with off-target "zeta eta theta" docs (ids 10-29).
    tgt = [(100 + i, "alpha beta gamma alpha beta") for i in range(20)]
    raw = [(i, "alpha beta gamma beta alpha gamma") for i in range(10)] + [
        (i, "zeta eta theta zeta eta theta") for i in range(10, 30)
    ]
    t = spark.createDataFrame(tgt, "doc_id long, text string")
    r = spark.createDataFrame(raw, "doc_id long, text string")
    return t, r


def test_dsir_prefers_on_target_docs(spark):
    t, r = _corpus(spark)
    top = dsir_select_topk(t, r, k=10, buckets=256)
    assert sorted(row["doc_id"] for row in top.collect()) == list(range(10))
    # And the scores separate cleanly: every on-target weight beats
    # every off-target weight.
    w = {row["doc_id"]: row["logw_sum"] for row in dsir_weights(t, r, 256).collect()}
    assert min(w[i] for i in range(10)) > max(w[i] for i in range(10, 30))


def test_dsir_ratio_table_bucket_bounded(spark):
    """Every bucket id lies in [0, buckets): with ONE bucket the ratio
    table is a single row whose smoothed ratio is exactly 1, so every
    weight is 0; at 64 buckets every raw document is scored."""
    t, r = _corpus(spark)
    one = dsir_weights(t, r, buckets=1).collect()
    assert len(one) == r.count() and {row["logw_sum"] for row in one} == {0.0}
    scored = dsir_weights(t, r, buckets=64)
    assert scored.count() == r.count()
    assert scored.filter(F.col("n_tokens") == 0).count() == 0


def test_dsir_logratio_computed_in_double_space(spark):
    """Round-6 advice: the smoothed ratio must be two DOUBLE products
    (cast before multiply), never a 64-bit integer product that wraps
    past 2^63 at ~3e9 tokens/side. Pinned two ways: (1) each document's
    ``logw_sum`` matches a pure-Python float replica of the bucket
    log-ratios summed per document, (2) the analyzed plan contains no
    long*long multiply feeding the log."""
    import hashlib
    import math

    t, r = _corpus(spark)
    buckets = 64
    got = {row["doc_id"]: row["logw_sum"] for row in dsir_weights(t, r, buckets).collect()}

    def bucket(term):
        return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % buckets

    def counts(rows):
        out = {}
        for row in rows:
            for term in row["text"].split():
                out[bucket(term)] = out.get(bucket(term), 0) + 1
        return out

    raw_rows = r.collect()
    ct, cs = counts(t.collect()), counts(raw_rows)
    nt, ns = sum(ct.values()), sum(cs.values())

    def lam(b):
        num = float(ct.get(b, 0) + 1) * float(ns + buckets)
        den = float(cs.get(b, 0) + 1) * float(nt + buckets)
        return math.log(num / den)

    for row in raw_rows:
        want = round(sum(c * lam(b) for b, c in counts([row]).items()), 4)
        # 1-ULP tolerance: JVM Math.log and Python math.log may differ
        # in the last bit; an integer wrap-around would be off by
        # orders of magnitude (or NaN), which this still catches.
        assert math.isclose(got[row["doc_id"]], want, rel_tol=1e-12), f"doc {row['doc_id']}"

    # Plan check: the smoothed counts are cast to double BEFORE the
    # multiply — the analyzed plan must contain the explicit
    # `cast((ct + 1) as double)` / `cast((cs + 1) as double)` nodes
    # (_logratios_from_counts builds exactly these), so the product
    # can never be a wrapping long*long. (The value parity above is
    # the decisive semantic guard; this pins the plan shape so a
    # refactor that drops the cast fails loudly, r8 ADVICE — the old
    # form of this check ended in `or True` and was vacuous.)
    import re

    plan = dsir_weights(t, r, buckets)._jdf.queryExecution().analyzed().toString()
    norm = plan.lower()
    cast_to_double = r"cast\(\({}#\d+l? \+ cast\(1 as bigint\)\) as double\)"
    assert re.search(cast_to_double.format("ct"), norm), plan
    assert re.search(cast_to_double.format("cs"), norm), plan
