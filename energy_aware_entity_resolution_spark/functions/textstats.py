"""Text-analysis functions for training-data pipelines: language-ID,
quality scoring, token counting, document fingerprinting.

These extend the reference's preprocessing layer (SURVEY.md §2.2) with
the operations a 100 TB corpus pipeline needs before dedup/training.
All JVM-side column expressions, deliberately kept ANSI-SQL-portable
so the DuckDB oracle can recompute them (see __spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from energy_aware_entity_resolution_spark.functions.portable_hash import (
    md5_hash60_col,
)

# tiny per-language marker vocabularies (public stopword lists)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "es": ["el", "los", "que", "una", "por", "para"],
}

def ws_tokens_col(text: Column) -> Column:
    """Whitespace tokenization (keeps duplicates — counting semantics)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != F.lit(""))


def token_count_col(text: Column) -> Column:
    return F.size(ws_tokens_col(text))


def bpe_ish_token_count_col(text: Column) -> Column:
    """BPE-flavored subword count: alnum runs + punctuation marks each
    count as a token (regex split, no model)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0))


def distinct_token_ratio_col(text: Column) -> Column:
    toks = ws_tokens_col(text)
    return F.when(
        F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks)
    ).otherwise(F.lit(0.0))


def mean_word_len_col(text: Column) -> Column:
    toks = ws_tokens_col(text)
    return F.when(
        F.size(toks) > 0,
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
        )
        / F.size(toks),
    ).otherwise(F.lit(0.0))


def quality_score_col(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + lexical
    diversity + sane word lengths (Gopher-style rules, simplified to a
    smooth SQL-portable formula)."""
    n = token_count_col(text)
    len_ok = F.when((n >= 10) & (n <= 1000), F.lit(1.0)).otherwise(
        F.when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    div = distinct_token_ratio_col(text)
    mwl = mean_word_len_col(text)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.3))
    return F.round(0.4 * len_ok + 0.4 * div + 0.2 * mwl_ok, 6)


def lang_guess_col(text: Column) -> Column:
    """Marker-word language ID (n-gram-free heuristic): the language
    with the most marker hits; 'und' (undetermined) when no marker
    fires. Deterministic tie-break by language code order."""
    toks = ws_tokens_col(F.lower(text))
    guess = F.lit("und")
    best = F.lit(0)
    for code in sorted(LANG_MARKERS):  # deterministic order
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[code]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
        guess = F.when(hits > best, F.lit(code)).otherwise(guess)
        best = F.greatest(hits, best)
    return guess


def shingles_col(text: Column, w: int = 8) -> Column:
    """Character w-shingles."""
    n = F.greatest(F.length(text) - (w - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: text.substr(i, F.lit(w)))


def fingerprint_col(text: Column, w: int = 8) -> Column:
    """Document fingerprint: min md5-hash over character w-shingles
    (winnowing-style rolling fingerprint, reduced to the global min so
    it is one stable 60-bit id per document)."""
    return F.array_min(F.transform(shingles_col(text, w), md5_hash60_col))
