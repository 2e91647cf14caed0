"""Text-analysis operators for LLM-data pipelines (north-star surface,
BASELINE.json): language ID, quality scoring, token counting, document
fingerprinting. All pure Catalyst column expressions (codegen'd,
shuffle-free per row) so they run at scan speed over 100 TB; every one
is SQL-oracle-expressible.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from auncel_spark.operators.dedup import tokens

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "en"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不"),
}


def token_count(text_col: Column | str, tok: Column | None = None) -> Column:
    """Whitespace token count (the BPE-ish regex variant is
    ``bpe_token_estimate``). ``tok``: an already-materialized token
    array column — single-pass profiles tokenize once and feed every
    feature from that column instead of re-splitting per feature."""
    return F.size(tokens(text_col) if tok is None else tok)


def bpe_token_estimate(text_col: Column | str) -> Column:
    """BPE-ish token estimate: words + digits + punctuation runs, the
    standard cheap proxy (≈ GPT-2 regex family) without a tokenizer
    library: count matches of word-pieces of ≤4 chars."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    pieces = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]{1,4}|[0-9]|[^a-z0-9\s]"), 0)
    return F.size(pieces)


def punct_ratio(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[.,!?;:]"), 0))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def stopword_count(
    text_col: Column | str, lang: str, tok: Column | None = None
) -> Column:
    if tok is None:
        tok = tokens(text_col)
    stops = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
    return F.size(F.filter(tok, lambda t: F.array_contains(stops, t)))


def stopword_ratio(
    text_col: Column | str, lang: str = "en", tok: Column | None = None
) -> Column:
    return stopword_count(text_col, lang, tok) / F.greatest(
        token_count(text_col, tok), F.lit(1)
    )


def uniqueness_ratio(text_col: Column | str, tok: Column | None = None) -> Column:
    if tok is None:
        tok = tokens(text_col)
    return F.size(F.array_distinct(tok)) / F.greatest(F.size(tok), F.lit(1))


def quality_score(text_col: Column | str, tok: Column | None = None) -> Column:
    """Composite quality in [0,1]: length sweet-spot, low punctuation
    noise, vocabulary diversity, some stopword structure — the standard
    cheap pretraining-filter features (C4/Gopher-style ratios)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_tok = token_count(c, tok)
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(c) * 10.0, F.lit(1.0))
    uniq = uniqueness_ratio(c, tok)
    stop_score = F.least(stopword_ratio(c, "en", tok) * 5.0, F.lit(1.0))
    return (
        0.3 * len_score + 0.2 * punct_score + 0.3 * uniq + 0.2 * stop_score
    )


def langid(text_col: Column | str, tok: Column | None = None) -> Column:
    """Stopword-vote language ID; deterministic tie-break by language
    code ascending (so results hash-match any SQL oracle)."""
    scores = [
        F.struct(
            (-stopword_count(text_col, lang, tok)).alias("neg"),
            F.lit(lang).alias("lang"),
        )
        for lang in sorted(STOPWORDS)
    ]
    # array_min over (neg_count, lang) structs = max count, tie → 'de' < 'en' < ...
    return F.array_min(F.array(*scores)).getField("lang")


def fingerprint_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    out_col: str = "fp",
    carry: Sequence[Column] = (),
) -> DataFrame:
    """(id, fp, *carry) with the token array materialized first (~7×
    faster than the inline-Column form at sf0.1).

    ``carry``: extra aliased Columns evaluated in the tokenization
    projection and threaded through — lets a caller fold per-doc
    metrics into the same scan instead of joining a second scan back
    on id."""
    from auncel_spark.operators.dedup import _shingles_of_tokens

    toked = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        tokens(text_col).alias("_tok"),
        *carry,
    )
    carry_names = toked.columns[3:]
    shingled = toked.select(
        "id",
        "_text",
        _shingles_of_tokens(F.col("_tok"), shingle_n).alias("_sh"),
        *carry_names,
    )
    return shingled.select(
        "id",
        F.coalesce(
            F.array_min(F.transform(F.col("_sh"), lambda s: F.md5(s))),
            F.md5(F.col("_text")),
        ).alias(out_col),
        *carry_names,
    )


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-doc feature frame (id, n_tokens, n_distinct,
    n_punct, bpe_tokens, quality)."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        token_count(c).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(tokens(c))).cast("bigint").alias("n_distinct"),
        F.size(F.regexp_extract_all(c, F.lit(r"[.,!?;:]"), 0)).cast("bigint").alias("n_punct"),
        bpe_token_estimate(c).cast("bigint").alias("bpe_tokens"),
        # floor-to-micro instead of round: both engines compute the
        # same double bit-for-bit, but round() half-way semantics
        # differ (HALF_UP vs HALF_EVEN) on terminating values
        F.floor(quality_score(c) * 1e6).cast("bigint").alias("quality_u"),
    )
