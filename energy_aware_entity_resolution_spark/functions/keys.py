"""Blocking-key column functions (SURVEY.md §2.2 P6/P10, §2.3 J1).

All JVM-side column expressions — blocking keys are computed billions
of times at 100 TB, so they must stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def bitmask_col(sig: Column) -> Column:
    """36-bit char-presence bitmask over [a-z0-9].

    Reference: compute_bitmask_int (exact_matching.py:20-28) builds the
    same mask from the token set; records in the same exact block must
    agree on it, so it is a cheap pre-filter / coarse blocking key.
    36 `contains` probes, all codegen'd.
    """
    mask = F.lit(0).cast("long")
    for i, ch in enumerate(_ALPHABET):
        mask = mask + F.when(F.contains(sig, F.lit(ch)), F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return mask


def sig_hash_col(sig: Column) -> Column:
    """64-bit signature hash — the exact-match join key (J2).

    xxhash64 is Spark-native and stable across executors/runs; at
    10^12 rows a 64-bit space gives ~3e-2 collision probability over
    the *distinct signature* count, and J2 re-checks signature equality
    on the joined pair anyway, so collisions cost work, not wrong
    answers.
    """
    return F.xxhash64(sig)


def token_ngrams_col(tokens: Column, n: int = 2) -> Column:
    """Sliding token n-grams (reference _gen_ngrams,
    dynamic_graph.py:293-317; names them 'ng::<n>::a␟b' — we keep plain
    space-joined grams)."""
    count = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), count)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(tokens, i, n), " "))
    return F.when(count > 0, grams).otherwise(F.array().cast("array<string>"))


def sorted_neighborhood_key_col(tokens: Column, prefix_len: int = 12) -> Column:
    """Sorted-neighborhood sort key: prefix of the sorted ALPHABETIC
    tokens. Numeric tokens (ids, amounts, dates) are near-unique per
    record — a key starting with them sorts records randomly and the
    neighborhood degenerates to noise; alphabetic content words make
    near-duplicates sort adjacently (classic SN key design,
    Hernández-Stolfo).
    """
    alpha = F.filter(tokens, lambda t: t.rlike("^[a-z]"))
    return F.substring(
        F.array_join(F.array_sort(F.array_distinct(alpha)), " "), 1, prefix_len
    )
