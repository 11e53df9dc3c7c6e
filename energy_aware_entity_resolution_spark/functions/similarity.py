"""Pairwise similarity functions (SURVEY.md §2.4 M1-M6).

Reference: comparison_approaches/formula_comparison.py:8-54 (per-pair
Python). Here every scorer that Spark can express natively stays
JVM-side (whole-stage codegen over the candidate-pair DataFrame); only
Jaro-Winkler needs a pandas UDF (Arrow-batched, length-capped).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def jaccard_col(a: Column, b: Column, distinct_arrays: bool = False) -> Column:
    """Set Jaccard |∩|/|∪| over token arrays (M3,
    formula_comparison.py:19-24) — array_intersect/union, codegen'd.

    distinct_arrays=True: the caller guarantees each array is already
    duplicate-free (featurize's rare_tokens are), so |∪| is computed by
    inclusion-exclusion |a|+|b|-|∩| instead of materializing
    array_union — per pair that drops one hash-set build + one array
    allocation, roughly halving the expression's cost on the scoring
    path (OPTIMIZATION_r06.md). Exact integer identity, same output."""
    if distinct_arrays:
        inter = F.size(F.array_intersect(a, b))
        denom = F.size(a) + F.size(b) - inter
        return F.when(denom > 0, inter / denom).otherwise(F.lit(1.0))
    denom = F.size(F.array_union(a, b))
    return F.when(denom > 0, F.size(F.array_intersect(a, b)) / denom).otherwise(
        F.lit(1.0)
    )


def multiset_jaccard_col(a: Column, b: Column) -> Column:
    """Multiset Jaccard: sum of min counts / sum of max counts (M4,
    formula_comparison.py:26-35 uses Counters). JVM-side via nested
    array ops — O(u·(|a|+|b|)) per pair, fine for bounded token lists."""
    uniq = F.array_distinct(F.concat(a, b))
    inter = F.aggregate(
        F.transform(
            uniq,
            lambda t: F.least(
                F.size(F.filter(a, lambda x: x == t)),
                F.size(F.filter(b, lambda x: x == t)),
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))


def _jaro_winkler(s1: str, s2: str) -> float:
    """Plain-Python Jaro-Winkler (public textbook formula)."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0
    # canonical Winkler: the prefix boost applies only above the 0.7
    # Jaro threshold (Winkler 1990) — also what rapidfuzz implements,
    # so the fallback and the C kernel below agree bit-for-bit
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return jaro + prefix * 0.1 * (1.0 - jaro)


def make_jaro_winkler_udf(cap: int = 128):
    """Arrow-batched Jaro-Winkler over capped strings (north_star's
    "batched Jaro-Winkler ... in pandas UDFs").

    Uses rapidfuzz's C kernel when importable on the EXECUTOR (same
    published formula, ~100x the pure-Python inner loop); falls back to
    the textbook implementation above — this sandbox has no rapidfuzz,
    a production image should."""

    @F.pandas_udf(T.DoubleType())
    def jw(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        try:  # resolved executor-side, once per worker
            from rapidfuzz.distance import JaroWinkler as _RF

            scorer = _RF.similarity
        except ImportError:
            scorer = _jaro_winkler
        for a, b in it:
            av = a.fillna("").str.slice(0, cap)
            bv = b.fillna("").str.slice(0, cap)
            yield pd.Series(
                np.fromiter(
                    (scorer(x, y) for x, y in zip(av, bv)),
                    dtype=np.float64,
                    count=len(av),
                )
            )

    return jw
