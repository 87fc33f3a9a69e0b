"""Text-analysis operators: language ID, quality scoring, token counting,
fingerprinting, sentiment (SURVEY.md F9 + LLM-pipeline additions).

Everything except sentiment is pure column algebra (JVM-side, codegen'd,
zero shuffle — these run as a wide ``select`` over the corpus scan, so a
100 TB pass is scan-bound, not compute-bound). Sentiment ships twice:

- :func:`sentiment_expr` — lexicon sum as column algebra, used by the
  oracle-checked query path.
- :func:`sentiment_pandas_udf` — the Arrow-batched UDF form (F9;
  reference used TextBlob/Afinn in driver pandas, ``lyric.ipynb#cell9``),
  the shape you swap a real model into.

Lexicons: ``SENTIMENT_LEXICON`` is the 20-word stand-in the oracle twin
recomputes; ``data/afinn_core.txt`` (see :func:`default_afinn_path`) is
a shipped ~800-term AFINN-format lexicon with multi-word phrases for
realistic scoring; the verbatim upstream AFINN-111 drops into
:func:`load_afinn_lexicon` unchanged for strict reference parity.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from .hashing import MERSENNE_P, poly_fingerprint

# --- token counting -----------------------------------------------------

#: BPE-ish pre-tokenizer pattern: letter runs, digit runs, single
#: non-alphanumeric marks. Chosen to behave identically under Java regex
#: (Spark) and RE2 (DuckDB oracle).
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def ws_token_count(text: Column) -> Column:
    """Whitespace token count (empties excluded)."""
    return F.size(F.filter(F.split(text, " "), lambda x: x != ""))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count via the regex pre-tokenizer — a cheap,
    deterministic proxy for BPE token budgeting at corpus scale."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


# --- quality scoring ----------------------------------------------------

#: Small English stopword list (shared with the DuckDB oracle).
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features.

    Returns named columns; compose with ``df.select(doc_id, **)`` or
    :func:`quality_score` for the scalar score.
    """
    toks = F.filter(F.split(text, " "), lambda x: x != "")
    n_tok = F.size(toks)
    n_chars = F.length(text)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_punct = F.size(
        F.regexp_extract_all(text, F.lit("[^A-Za-z0-9 ]"), 0)
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "avg_token_len": F.when(
            n_tok > 0, (n_chars - (n_tok - F.lit(1))) / n_tok
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tok > 0, stop_hits / n_tok).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, some stopwords
    (English-fluency proxy), not punctuation-soup. Deliberately simple
    and fully SQL-portable; swap for a model scorer via pandas_udf when
    quality budgets justify GPU/model inference."""
    ft = quality_features(text)
    len_ok = F.least(ft["n_tokens"] / F.lit(50.0), F.lit(1.0))
    stop_ok = F.least(ft["stopword_ratio"] / F.lit(0.2), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(ft["punct_ratio"] * F.lit(5.0), F.lit(1.0))
    return (len_ok + stop_ok + punct_ok) / F.lit(3.0)


# --- language identification -------------------------------------------

#: Marker tokens per language — heuristic n-gram/stopword language ID.
#: Real deployments plug fastText/CLD3-scale marker tables into the SAME
#: scoring shape (scores stay column algebra; argmax stays greatest()).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "is", "and", "of"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
    "zh": ("的", "是", "了", "在", "我"),
}


def langid_scores(text: Column) -> dict[str, Column]:
    """Marker-hit count per language over lowercased tokens."""
    toks = F.filter(F.split(F.lower(text), " "), lambda x: x != "")
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def langid(text: Column, default: str = "und") -> Column:
    """Predicted language = argmax marker score, ties → first language in
    LANG_MARKERS order, zero hits → ``default``."""
    scores = langid_scores(text)
    best = F.greatest(*scores.values())
    pred = F.lit(default)
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit(default))


# --- normalization ------------------------------------------------------

def normalize_text(text: Column) -> Column:
    """Canonical form for fuzzy-exact dedup: lowercase, strip everything
    but [a-z0-9 ], collapse runs of spaces, trim. Pure column algebra;
    patterns chosen to behave identically under Java regex and RE2."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", "")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


# --- document fingerprint ----------------------------------------------

def doc_fingerprint(text: Column, p: int = MERSENNE_P) -> Column:
    """Order-sensitive rolling document fingerprint (see
    functions/hashing.py — position-weighted md5 polynomial mod p)."""
    toks = F.filter(F.split(text, " "), lambda x: x != "")
    return poly_fingerprint(toks, p)


# --- sentiment (F9) -----------------------------------------------------

#: Minimal valence lexicon (AFINN-shaped: word → integer −5..5).
SENTIMENT_LEXICON: dict[str, int] = {
    "good": 3, "great": 4, "love": 4, "happy": 3, "best": 4, "fast": 1,
    "win": 3, "nice": 2, "like": 2, "joy": 3,
    "bad": -3, "hate": -4, "sad": -3, "worst": -4, "slow": -1,
    "lose": -3, "awful": -4, "pain": -2, "angry": -3, "fail": -3,
}


def sentiment_expr(text: Column) -> Column:
    """Lexicon-sum sentiment as pure column algebra (oracle-portable):
    Σ lexicon[token] over lowercased whitespace tokens."""
    toks = F.filter(F.split(F.lower(text), " "), lambda x: x != "")
    score = F.lit(0)
    mapped = F.transform(
        toks,
        lambda t: F.coalesce(
            *[F.when(t == F.lit(w), F.lit(v)) for w, v in SENTIMENT_LEXICON.items()],
            F.lit(0),
        ),
    )
    score = F.aggregate(mapped, F.lit(0), lambda acc, x: acc + x)
    return score.cast("long")


@pandas_udf(DoubleType())
def sentiment_pandas_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched sentiment UDF (F9). Same lexicon sum, computed in
    pandas per batch — the slot where TextBlob/Afinn/a transformer model
    would plug in. Keep model loading at module scope (once per worker),
    never per batch."""
    lex = SENTIMENT_LEXICON

    def score(t: str | None) -> float:
        if not t:
            return 0.0
        return float(sum(lex.get(w, 0) for w in t.lower().split()))

    return texts.map(score)


#: Shipped AFINN-format lexicon (see :func:`default_afinn_path`).
_AFINN_CORE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "afinn_core.txt",
)


def default_afinn_path() -> str:
    """Path of the vendored AFINN-format valence lexicon
    (``data/afinn_core.txt``: ~800 English terms scored −5..5, including
    multi-word phrases, in the ``word<TAB>score`` distribution format of
    AFINN-111). It is a core lexicon assembled for this repo following
    the public AFINN conventions — NOT the verbatim AFINN-111 file; for
    strict reference parity (``lyric.ipynb#cell10``, the ``afinn``
    package) download AFINN-111 from its upstream repository and pass
    that path to :func:`load_afinn_lexicon` instead — same format, same
    loader, same UDF."""
    return _AFINN_CORE


def load_afinn_lexicon(path: str) -> dict[str, int]:
    """Parse a standard AFINN wordlist (``word<TAB>score`` per line —
    the distribution format of AFINN-111/AFINN-165). A vendored core
    file ships at :func:`default_afinn_path`; the upstream AFINN-111
    drops in unchanged. The result plugs into :func:`make_sentiment_udf`
    to reproduce the reference's Afinn scoring (``lyric.ipynb#cell10``)."""
    lex: dict[str, int] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line:
                continue
            word, _, score = line.rpartition("\t")
            lex[word] = int(score)
    return lex


def make_sentiment_udf(lexicon: dict[str, int | float]):
    """Build an Arrow-batched sentiment UDF over ANY ``{term: weight}``
    valence lexicon — pass :func:`load_afinn_lexicon` output for real
    AFINN behavior, or any domain lexicon. Multi-word AFINN terms are
    matched as whole-word phrases first (longest-first), remaining
    tokens scored singly — the same strategy as the ``afinn`` package.
    Word boundaries are enforced (``\\b``): 'not good' never matches
    inside 'cannot goodness', and phrase removal cannot splice adjacent
    words into false new matches."""
    import re

    phrase_res = [
        (re.compile(r"\b" + re.escape(t) + r"\b"), lexicon[t])
        for t in sorted((t for t in lexicon if " " in t), key=len, reverse=True)
    ]

    @pandas_udf(DoubleType())
    def scorer(texts: pd.Series) -> pd.Series:
        def score(t: str | None) -> float:
            if not t:
                return 0.0
            t = t.lower()
            total = 0.0
            for rx, w in phrase_res:
                t, n = rx.subn(" \x00 ", t)  # \x00: never a lexicon token
                total += n * w
            total += sum(lexicon.get(w, 0) for w in t.split())
            return float(total)

        return texts.map(score)

    return scorer


def bigram_conditional_topk(
    docs, text_col: str = "text", k: int = 3, min_head_count: int = 50
):
    """N-gram LM estimation: per head word, the top-k next words by
    conditional probability P(next | head) = c(head, next) / c(head ·),
    over token-frequency bigram counts (not document frequency — an LM
    sees every occurrence).

    Shape at scale: bigram extraction is per-row array algebra; the
    counts are one hash aggregation on (head, next) — map-side combined,
    shuffle is vocabulary²-bounded, never corpus-bounded; head totals
    come from a second aggregation of the COUNTS (vocabulary-sized
    input), and the top-k cut is a window over the counts table. The
    corpus text itself shuffles nowhere. ``min_head_count`` prunes rare
    heads whose estimates are noise (standard LM practice).
    """
    from pyspark.sql import Window

    from ..operators.dedup import word_shingles

    bg = docs.select(
        F.explode(word_shingles(F.col(text_col), 2, distinct=False)).alias(
            "bg"
        )
    ).select(
        F.split(F.col("bg"), " ").getItem(0).alias("head"),
        F.split(F.col("bg"), " ").getItem(1).alias("next"),
    )
    counts = bg.groupBy("head", "next").agg(F.count(F.lit(1)).alias("c"))
    w_tot = Window.partitionBy("head")
    w_rank = Window.partitionBy("head").orderBy(
        F.col("c").desc(), F.col("next").asc()
    )
    return (
        counts.withColumn("head_total", F.sum("c").over(w_tot))
        .filter(F.col("head_total") >= min_head_count)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            "head",
            F.col("next").alias("next_word"),
            F.col("c").alias("pair_count"),
            F.col("head_total"),
            F.round(F.col("c") / F.col("head_total"), 6).alias("prob"),
            "rank",
        )
    )


def char_entropy(text: Column) -> Column:
    """Shannon entropy (bits) of the character distribution of a
    document — the quality signal that catches mojibake, base64 blobs,
    and single-character spam that ratio features miss (near-zero
    entropy = repetitive junk; near-log2(alphabet) with a huge alphabet
    = binary noise).

    Pure per-row column algebra, no shuffle and no Python: the distinct
    characters of the row (bounded by the alphabet, not the document)
    drive a ``transform``+``filter`` occurrence count — O(distinct ×
    len) comparisons per row, all inside whole-stage codegen — and one
    ``aggregate`` folds −Σ p·log2(p). Empty/NULL text yields 0.0.
    Deterministic: the fold order is first-occurrence order, and the
    DuckDB oracle's group-sum order differs only at the ~1e-16
    float-associativity level, absorbed by the registry's rounding.

    SHORT-TEXT convenience only: as one monolithic expression, Catalyst
    re-inlines the char-array and length subtrees at every lambda
    reference (no CSE inside higher-order lambdas — the same trap
    functions/vectors.py::int8_scale documents), measured 3.4× slower
    than the staged form on long documents. Pipelines should use
    :func:`with_char_entropy`, which materializes each subtree as its
    own projection so it is computed once per row.
    """
    chars = F.filter(F.split(text, ""), lambda c: c != "")
    n = F.size(chars).cast("double")
    counts = F.transform(
        F.array_distinct(chars),
        lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double"),
    )
    ent = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc - (c / n) * F.log2(c / n),
    )
    return F.when(n > 0, ent).otherwise(F.lit(0.0))


def with_char_entropy(
    df, text_col: str = "text", out: str = "char_entropy", ndigits: int = 6
):
    """Append a character-entropy column (see :func:`char_entropy` for
    semantics) via STAGED projections: char array, length, and
    per-distinct-char counts each materialize as their own column, so
    every subtree is evaluated once per row. CollapseProject keeps the
    stages separate because the lambda-bearing expressions are
    non-cheap and multiply-referenced — measured 3.4× faster than the
    single-expression form on long documents, same values bit-for-bit.
    Still map-only: no shuffle, no Python, identical plan shape
    otherwise. Intermediate columns are dropped from the result.
    """
    cols = [c for c in df.columns]
    chars = F.filter(F.split(F.col(text_col), ""), lambda c: c != "")
    s = df.withColumn("__ce_chars", chars).withColumn(
        "__ce_n", F.size("__ce_chars").cast("double")
    )
    counts = F.transform(
        F.array_distinct(F.col("__ce_chars")),
        lambda c: F.size(
            F.filter(F.col("__ce_chars"), lambda x: x == c)
        ).cast("double"),
    )
    s = s.withColumn("__ce_counts", counts)
    n = F.col("__ce_n")
    ent = F.aggregate(
        F.col("__ce_counts"),
        F.lit(0.0),
        lambda acc, c: acc - (c / n) * F.log2(c / n),
    )
    return s.select(
        *cols,
        F.when(n > 0, F.round(ent, ndigits))
        .otherwise(F.lit(0.0))
        .alias(out),
    )


# --- logistic quality classifier ----------------------------------------

#: Frozen linear quality-classifier weights over the
#: :func:`quality_features` signals — the fastText-style "quality
#: classifier" gate public LM pipelines run (a linear model over cheap
#: text features). Weights are FROZEN here so corpus scoring is
#: deterministic and engine-portable (the DuckDB oracle replays the
#: same arithmetic).
QUALITY_LR_WEIGHTS: dict[str, float] = {
    "bias": -2.0,
    "len_norm": 2.5,        # applied to min(n_tokens/50, 1)
    "stopword_ratio": 6.0,
    "punct_ratio": -8.0,
}


def logistic_quality(text: Column) -> Column:
    """P(keep) from the frozen linear quality classifier:
    sigmoid(w·features), pure column algebra (codegen'd, no UDF).

    The linear term is rounded to 6 digits BEFORE the sigmoid so both
    engines exponentiate bit-identical inputs; the output is rounded
    again by callers per the registry's double-output convention.
    """
    ft = quality_features(text)
    w = QUALITY_LR_WEIGHTS
    len_norm = F.least(ft["n_tokens"] / F.lit(50.0), F.lit(1.0))
    z = F.round(
        F.lit(w["bias"])
        + F.lit(w["len_norm"]) * len_norm
        + F.lit(w["stopword_ratio"]) * ft["stopword_ratio"]
        + F.lit(w["punct_ratio"]) * ft["punct_ratio"],
        6,
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


# --- readability ----------------------------------------------------------


def readability_features(text: Column) -> dict[str, Column]:
    """Flesch-style readability proxies, pure column algebra.

    Real syllable counting needs a dictionary; the standard corpus-scale
    proxy is VOWEL GROUPS (maximal ``[aeiouy]+`` runs, lowercased),
    which tracks syllables closely enough to rank documents. Sentences
    are terminator runs ``[.!?]+`` with a floor of 1 (a fragment is one
    sentence); words are the whitespace tokenizer shared with
    :func:`quality_features`. The score is the Flesch reading-ease
    formula over those proxies:

        206.835 - 1.015 * words/sentence - 84.6 * vowel_groups/word

    Every count is an exact integer and both regexes behave identically
    under Java regex (Spark) and RE2 (DuckDB), so the oracle reproduces
    the scores bit-for-bit after rounding. Zero-word documents score
    NULL (no ratio is defined), never a fake 0.
    """
    words = F.size(F.filter(F.split(text, " "), lambda x: x != ""))
    sents = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit("[.!?]+"), 0)), F.lit(1)
    )
    vgroups = F.size(
        F.regexp_extract_all(F.lower(text), F.lit("[aeiouy]+"), 0)
    )
    wps = words / sents
    vpw = vgroups / words
    return {
        "n_words": words.cast("long"),
        "n_sentences": sents.cast("long"),
        "n_vowel_groups": vgroups.cast("long"),
        "words_per_sentence": F.when(words > 0, wps),
        "vowel_groups_per_word": F.when(words > 0, vpw),
        "flesch": F.when(
            words > 0, F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * vpw
        ),
    }
