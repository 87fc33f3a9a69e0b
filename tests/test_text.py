"""Text operators: expr/UDF twin equivalence + fixed golden outputs."""

from __future__ import annotations

import pyspark.sql.functions as F

from spark_streaming_kafka_spark.functions import text as T


def test_sentiment_expr_and_udf_agree(spark):
    rows = [
        (0, "I love this great fast engine"),
        (1, "bad slow awful pain"),
        (2, "neutral words only here"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        T.sentiment_expr(F.col("text")).alias("expr"),
        T.sentiment_pandas_udf(F.col("text")).alias("udf"),
    ).collect()
    for r in out:
        assert float(r["expr"]) == r["udf"]
    scores = {r["doc_id"]: r["expr"] for r in out}
    assert scores[0] == 4 + 4 + 1  # love(4) + great(4) + fast(1)
    assert scores[1] < 0
    assert scores[2] == 0 and scores[3] == 0


def test_token_counts(spark):
    df = spark.createDataFrame([("ab 12 cd!",)], "text string")
    r = df.select(
        T.ws_token_count(F.col("text")).alias("ws"),
        T.bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).first()
    assert r["ws"] == 3
    assert r["bpe"] == 4  # ab | 12 | cd | !


def test_langid_markers(spark):
    rows = [
        (0, "the cat is on a mat"),
        (1, "der hund ist und das"),
        (2, "xyzzy qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["p"] for r in df.select("doc_id", T.langid(F.col("text")).alias("p")).collect()}
    assert out == {0: "en", 1: "de", 2: "und"}


def test_quality_score_ranges(spark):
    rows = [(0, "the " * 60), (1, "!!!! ???? ####"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["q"] for r in df.select("doc_id", T.quality_score(F.col("text")).alias("q")).collect()}
    assert 0.0 <= out[1] < out[0] <= 1.0


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["f"] for r in df.select("doc_id", T.doc_fingerprint(F.col("text")).alias("f")).collect()}
    assert out[0] == out[2]
    assert out[0] != out[1]


def test_make_sentiment_udf_custom_lexicon(spark, tmp_path):
    """Pluggable lexicon path (the slot real AFINN drops into): an
    AFINN-format file round-trips through load_afinn_lexicon and scores
    phrases-before-tokens like the afinn package."""
    from spark_streaming_kafka_spark.functions.text import (
        load_afinn_lexicon,
        make_sentiment_udf,
    )

    p = tmp_path / "AFINN-custom.txt"
    p.write_text("cool\t1\nnot good\t-2\ngood\t3\nterrible\t-3\n")
    lex = load_afinn_lexicon(str(p))
    assert lex == {"cool": 1, "not good": -2, "good": 3, "terrible": -3}

    udf = make_sentiment_udf(lex)
    df = spark.createDataFrame(
        [(0, "good and cool"), (1, "not good weather"), (2, "TERRIBLE stuff")],
        "id int, text string",
    )
    got = {r["id"]: r["s"] for r in df.select("id", udf("text").alias("s")).collect()}
    assert got[0] == 4.0   # good(3) + cool(1)
    assert got[1] == -2.0  # phrase beats token: 'not good' = -2, not +3
    assert got[2] == -3.0  # case-insensitive

    # word boundaries: 'not good' must NOT match inside 'cannot goodness'
    df2 = spark.createDataFrame([(0, "cannot goodness prevail")], "id int, text string")
    assert df2.select(udf("text").alias("s")).first()["s"] == 0.0


def test_shipped_afinn_lexicon_scores_lyrics(spark):
    """The vendored AFINN-format lexicon (data/afinn_core.txt) loads and
    scores reference-style lyric text end-to-end (lyric.ipynb#cell9-10's
    Afinn flow: lyric lines -> valence sum), distributed via the
    Arrow-batched UDF rather than driver pandas."""
    from spark_streaming_kafka_spark.functions.text import (
        default_afinn_path,
        load_afinn_lexicon,
        make_sentiment_udf,
    )
    import os

    assert os.path.exists(default_afinn_path())
    lex = load_afinn_lexicon(default_afinn_path())
    assert len(lex) > 500
    assert all(isinstance(v, int) and -5 <= v <= 5 for v in lex.values())
    assert any(" " in term for term in lex)  # multi-word phrases present

    udf = make_sentiment_udf(lex)
    lyrics = [
        (0, "I love you baby and it feels so good to win"),
        (1, "my broken heart is lost in this terrible pain"),
        (2, "la la la instrumental interlude"),
        (3, "I can't stand the rain but I smile through the storm"),
    ]
    df = spark.createDataFrame(lyrics, "line_id int, text string")
    got = {r["line_id"]: r["s"] for r in df.select("line_id", udf("text").alias("s")).collect()}
    assert got[0] == lex["love"] + lex["good"] + lex["win"]
    assert got[0] > 0
    assert got[1] == lex["broken"] + lex["lost"] + lex["terrible"] + lex["pain"]
    assert got[1] < 0
    assert got[2] == 0.0  # no lexicon terms
    # phrase "can't stand" scores as one unit, then 'smile' singly
    assert got[3] == lex["can't stand"] + lex["smile"]


def test_bigram_conditional_topk(spark):
    from spark_streaming_kafka_spark.functions.text import (
        bigram_conditional_topk,
    )

    docs = spark.createDataFrame(
        [("a b a b a c",), ("a b x",), ("z",)], "text string"
    )
    out = bigram_conditional_topk(docs, k=2, min_head_count=1).collect()
    rows = {(r["head"], r["rank"]): r for r in out}
    # head 'a': a→b ×3, a→c ×1 (head_total 4)
    assert rows[("a", 1)]["next_word"] == "b"
    assert rows[("a", 1)]["pair_count"] == 3
    assert rows[("a", 1)]["head_total"] == 4
    assert rows[("a", 1)]["prob"] == 0.75
    assert rows[("a", 2)]["next_word"] == "c"
    # 1-token doc contributes nothing; 'z' never a head
    assert not any(h == "z" for h, _ in rows)


def test_logistic_quality_frozen_scorer_separates(spark):
    from pyspark.sql import functions as F

    from spark_streaming_kafka_spark.functions.text import logistic_quality

    good = "the cat sat on the mat and looked out of the window for a while"
    bad = "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!!"
    df = spark.createDataFrame(
        [(1, good), (2, bad)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["p"]
        for r in df.select(
            "doc_id", F.round(logistic_quality(F.col("text")), 6).alias("p")
        ).collect()
    }
    assert out[1] > 0.5 > out[2]

