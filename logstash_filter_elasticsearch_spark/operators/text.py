"""Text-analysis operators: token counts, quality scores, language ID,
document fingerprints. All native column expressions (codegen); the
formulas are deterministic so the DuckDB oracle reproduces them bit-
for-bit at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.operators.dedup import normalize_text
from logstash_filter_elasticsearch_spark.operators.layout import spread

# BPE-ish pre-tokenizer regex: word pieces OR single non-space symbols
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# tiny marker-word tables for heuristic language ID; deterministic and
# SQL-expressible (the real thing would be char-n-gram profiles)
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "das"],
    "fr": ["le", "et", "la"],
    "es": ["el", "y", "los"],
}


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+"))


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH), 0))


def word_count_of(text: Column, word: str) -> Column:
    """Occurrences of a word (word-boundary) — shared with the oracle."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(rf"\b{word}\b"), 0))


def _round_half_up(c: Column, digits: int) -> Column:
    """Explicit HALF_UP rounding for non-negative values.

    Engines disagree on double rounding mode (Spark round() is HALF_UP,
    DuckDB's is HALF_EVEN), which diverges on EXACTLY-representable
    halves — e.g. a stopword ratio of 333/640 = 0.5203125 rounds to
    0.520313 vs 0.520312 at 6 dp. floor(x*10^d + 0.5)/10^d is the same
    IEEE sequence in every engine, so oracles can replicate bit-for-bit.
    """
    scale = F.lit(float(10**digits))
    return F.floor(c * scale + F.lit(0.5)) / scale


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Length / punctuation / stopword-ratio features + composite score.

    score = 0.4*stopword_ratio + 0.3*(1-punct_ratio) + 0.3*min(1, words/64)
    rounded (explicit HALF_UP) to 6 dp so engine/oracle float paths
    agree on every input, including exact-half boundaries.
    """
    df = spread(df)  # regex-heavy: parallelize single-file scans (§2.5)
    text = F.col(text_col)
    n_chars = F.length(text)
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words)
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), 0))
    n_stop = F.size(F.filter(words, lambda w: F.lower(w).isin(STOPWORDS)))
    mean_word_len = _round_half_up((n_chars - (n_words - 1)) / n_words, 4)
    stop_ratio = _round_half_up(n_stop / n_words, 6)
    punct_ratio = _round_half_up(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    score = _round_half_up(
        0.4 * stop_ratio
        + 0.3 * (1 - punct_ratio)
        + 0.3 * F.least(F.lit(1.0), n_words / F.lit(64.0)),
        6,
    )
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_punct", n_punct)
        .withColumn("n_stopwords", n_stop)
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("quality_score", score)
    )


def lang_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID by marker-word counts; deterministic
    tie-break = alphabetical language order; 'und' if zero evidence."""
    df = spread(df)  # regex-heavy: parallelize single-file scans (§2.5)
    text = F.col(text_col)
    scores = {
        lang: sum(
            (word_count_of(text, w) for w in words), start=F.lit(0)
        )
        for lang, words in sorted(LANG_MARKERS.items())
    }
    best_score = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(pred)
    pred = F.when(best_score > 0, pred).otherwise(F.lit("und"))
    return df.withColumn(out_col, pred)


def fingerprint_md5(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    """Content fingerprint: md5 of normalized text (oracle-identical)."""
    return df.withColumn(out_col, F.md5(normalize_text(F.col(text_col))))

