"""Text-analysis column functions for training-data pipelines.

Language-ID (stopword/charset heuristic), quality scoring, token counting,
and document fingerprinting over a ``documents(doc_id, text, ...)`` table.
All JVM-side Column expressions (no UDFs), each designed to be expressible
verbatim in DuckDB SQL so the driver's oracle comparison can hash-match
values exactly (__spark_entry__.py keeps the SQL twins).

Reference analog: the reference's scalar helpers (F1-F9, SURVEY.md §2.8) are
its only content functions; these are the scaled engine's equivalents for
corpus curation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language heuristics: high-frequency function words, whole-word anchored.
# Deliberately small — a real pipeline swaps in fastText/CLD3; the operator
# shape (CASE ladder over the text column) is what matters here.
LANG_PATTERNS: list[tuple[str, str]] = [
    ("zh", r"[一-鿿]"),
    ("ru", r"[Ѐ-ӿ]"),
    ("de", r"(^| )(der|die|das|und|ist|nicht)( |$)"),
    ("fr", r"(^| )(le|la|les|est|une|dans)( |$)"),
    ("es", r"(^| )(el|los|las|es|una|que)( |$)"),
    ("en", r"(^| )(the|and|is|of|to|in)( |$)"),
]

# whole-token stopword list for the quality heuristic (english-ish)
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

_WORD_SPLIT = r"\s+"
_BPE_ISH = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def token_count(col: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, _WORD_SPLIT))
    )


def subword_count(col: Column | str) -> Column:
    """BPE-ish unit count: letter runs, digit runs, single punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(_BPE_ISH), 0))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / non-space chars, 4dp; 0 when no content.

    Punctuation = not a Unicode letter/digit/space (``\\p{L}\\p{N}``, same
    classes in Java regex and the oracle's RE2): the old ASCII class
    ``[^a-z0-9\\s]`` counted every CJK/Cyrillic/accented LETTER as
    punctuation, flooring quality_score to near-zero for exactly the
    languages language_id detects (round-4 review).  Counting is
    length(regexp_replace(...)) — the regexp_extract_all form materialized a
    per-character string array (10^6 single-char strings for a 1 MB doc),
    twice per call."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    punct = F.length(F.regexp_replace(low, r"[\p{L}\p{N}\s]", ""))
    nonspace = F.length(F.regexp_replace(low, r"\s", ""))
    return F.round(
        F.when(nonspace == 0, F.lit(0.0)).otherwise(punct / nonspace), 4
    )


def stopword_ratio(col: Column | str) -> Column:
    """Stopword tokens / all tokens, 4dp (quality signal)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(F.trim(c)), _WORD_SPLIT)
    stops = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    )
    n = token_count(c)
    return F.round(F.when(n == 0, F.lit(0.0)).otherwise(stops / n), 4)


def mean_word_len(col: Column | str) -> Column:
    """Mean token length, 4dp; 0 for blank text."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    n = token_count(c)
    # sum of token lengths = nonspace char count of the trimmed text
    nonspace = F.length(F.regexp_replace(t, r"\s+", ""))
    return F.round(F.when(n == 0, F.lit(0.0)).otherwise(nonspace / n), 4)


def language_id(col: Column | str) -> Column:
    """First-match CASE ladder over LANG_PATTERNS; 'und' when nothing hits."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    expr = F.lit("und")
    for lang, pat in reversed(LANG_PATTERNS):
        expr = F.when(low.rlike(pat), F.lit(lang)).otherwise(expr)
    return expr


def quality_score(col: Column | str) -> Column:
    """Composite curation score in [0, 1], 4dp.

    0.4·length-band + 0.3·(1 − punct_ratio) + 0.3·stopword presence band.
    The exact weights are a placeholder policy; the operator shape (pure
    column arithmetic, no UDF) is the point.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = token_count(c)
    len_band = (
        F.when(n >= 50, F.lit(1.0))
        .when(n >= 10, F.lit(0.7))
        .when(n >= 3, F.lit(0.3))
        .otherwise(F.lit(0.0))
    )
    sw = stopword_ratio(c)
    sw_band = (
        F.when((sw >= 0.05) & (sw <= 0.6), F.lit(1.0))
        .when(sw > 0.6, F.lit(0.3))
        .otherwise(F.lit(0.5))
    )
    return F.round(0.4 * len_band + 0.3 * (1.0 - punct_ratio(c)) + 0.3 * sw_band, 4)


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of whitespace-normalized text.

    (md5 is identical across Spark and DuckDB, making the fingerprint
    oracle-checkable; the similarity-preserving fingerprints live in
    operators/signatures.py.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def text_profile(df):
    """Attach all text-analysis columns of the ``text`` column at once."""
    c = F.col("text")
    return (
        df.withColumn("n_tokens", token_count(c))
        .withColumn("n_subwords", subword_count(c))
        .withColumn("punct_ratio", punct_ratio(c))
        .withColumn("stopword_ratio", stopword_ratio(c))
        .withColumn("mean_word_len", mean_word_len(c))
        .withColumn("lang_guess", language_id(c))
        .withColumn("quality", quality_score(c))
        .withColumn("fingerprint", doc_fingerprint(c))
    )
