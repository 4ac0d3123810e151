"""Text-analysis operators for training-data pipelines (north-star ext.).

Language-ID, quality scoring, token counting, fingerprinting — all pure
Column expressions over the ``documents`` table (BASELINE.json:6). No
Python UDFs: tokenization is a regex split, heuristics are array
higher-order functions, everything stays in whole-stage codegen and is
oracle-expressible in ANSI SQL.

The tokenizer contract (lower → split on ``[^a-z0-9]+`` → drop empties)
is shared verbatim with the DuckDB oracle; see queries/extensions.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

#: tiny per-language stopword lists for the n-gram/stopword heuristic.
#: Chosen from each language's top function words; ASCII only so the
#: tokenizer treats them uniformly.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "du", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "que"],
}


def tokenize(col: Column) -> Column:
    """lower → regex split → drop empty tokens. Array column, no shuffle.

    NULL-safe: NULL text tokenizes to an empty array, not NULL — without
    the coalesce, ``F.size`` downstream returns −1 (non-ANSI) while the
    DuckDB oracles return NULL, a silent parity break on any NULL row."""
    return F.filter(
        F.split(F.lower(F.coalesce(col, F.lit(""))), TOKEN_SPLIT_RE),
        lambda t: t != F.lit(""),
    )


def _stopword_hits(tokens: Column, words: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def language_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-ratio language heuristic: the language whose function words
    cover the most tokens wins; below a floor → 'unk'.

    Pure expression — at 100 TB this is a map-only pass, no shuffle.
    """
    df = df.withColumn("_toks", tokenize(F.col(text_col)))
    hits = {
        lang: _stopword_hits(F.col("_toks"), words) for lang, words in STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    # argmax; ties break on alphabetical language order (deterministic and
    # trivially mirrored in the oracle's CASE chain)
    pred = F.when(best < 1, F.lit("unk"))
    for lang in sorted(STOPWORDS):
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return df.withColumn(out, pred.otherwise(F.lit("unk"))).drop("_toks")


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality features + composite score:
    token count, mean token length, stopword ratio, alnum ratio.
    All single-pass expressions; score formula is fixed-order IEEE
    arithmetic so it is reproducible across engines."""
    toks = tokenize(F.col(text_col))
    df = df.withColumn("_toks", toks)
    n_tok = F.size(F.col("_toks"))
    n_char = F.length(F.col(text_col))
    tok_chars = F.aggregate(
        F.transform(F.col("_toks"), lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    stop_hits = _stopword_hits(F.col("_toks"), STOPWORDS["en"])
    mean_tok_len = F.when(n_tok > 0, tok_chars / n_tok).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop_hits / n_tok).otherwise(F.lit(0.0))
    alnum_ratio = F.when(n_char > 0, tok_chars / n_char).otherwise(F.lit(0.0))
    score = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + stop_ratio * F.lit(0.3)
        + alnum_ratio * F.lit(0.3)
    )
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("mean_tok_len", mean_tok_len)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("alnum_ratio", alnum_ratio)
        .withColumn("quality", score)
        .drop("_toks")
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish regex of
    letter-runs / digits / punctuation pieces (the cheap proxy for "how
    many LLM tokens is this document")."""
    text = F.coalesce(F.col(text_col), F.lit(""))  # NULL-safe, see tokenize
    ws = F.size(F.filter(F.split(text, r"\s+"), lambda t: t != F.lit("")))
    bpe = F.size(F.regexp_extract_all(F.lower(text), F.lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), 0))
    return df.withColumn("n_words", ws).withColumn("n_bpe_pieces", bpe)


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fp") -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set. Detects bag-of-words duplicates (reordered/duplicated
    content) that exact text equality misses."""
    toks = tokenize(F.col(text_col))
    canon = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return df.withColumn(out, F.md5(canon))
