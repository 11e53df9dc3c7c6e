"""Pooled record embeddings (SURVEY.md G5/G6, M1).

The reference trains gensim word2vec/fasttext on random-walk sentences
(dynamic_embedding/dynamic_embeddings.py:8-81) and compares records by
cosine over the L2-normalized 300-d vectors
(dynamic_entity_resolution.py:129-215). Word2vec is seed- and
thread-nondeterministic, so the Spark engine defaults to a
deterministic **feature-hashed pooled embedding**: each token hashes to
(index, sign) in a d-dim space, token vectors are IDF-free sums, the
record vector is L2-normalized. Cosine of such vectors is a smoothed
token-overlap similarity — the same role cosine plays in pipeline 1.
(Spark MLlib Word2Vec can be slotted in for walk-parity; SURVEY §7.3.)

Vectorized end-to-end: one Arrow batch -> one (rows, d) numpy matrix.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hash_token(t: str) -> int:
    import hashlib

    return int.from_bytes(
        hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(), "little"
    )


def make_pooled_embedding_udf(dim: int = 64):
    """array<string> tokens -> array<float> unit vector (deterministic)."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def pooled_embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for tokens in it:
            cache: dict[str, tuple[int, float]] = {}
            out = []
            for toks in tokens:
                vec = np.zeros(dim, dtype=np.float64)
                if toks is not None:
                    for t in toks:
                        if t not in cache:
                            h = _hash_token(t)
                            cache[t] = (h % dim, 1.0 if (h >> 62) & 1 else -1.0)
                        idx, sign = cache[t]
                        vec[idx] += sign
                n = np.linalg.norm(vec)
                if n > 0:
                    vec /= n
                out.append(vec.astype(np.float32).tolist())
            yield pd.Series(out)

    return pooled_embed


def cosine_col(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine of two unit vectors = dot product, JVM-side (no UDF).

    With ``dim`` (statically known vector length) the fold runs over a
    CONSTANT-FOLDED index sequence — one higher-order aggregate whose
    lambda reads both arrays by index — instead of zip_with + aggregate,
    which materializes a boxed intermediate products array per pair and
    walks the array twice. Measured ~2x on pair-join projections
    (OPTIMIZATION_r06.md §cosine). Bit-identical: same elementwise
    products added to the same 0.0 accumulator in the same order.
    (A fully unrolled 64-term arithmetic chain was tried first: it wins
    3x on a plain per-row projection but collapses whole-stage codegen
    on join stages — 3.6x SLOWER per pair; see OPTIMIZATION_r06.md.)
    Only valid when every array has exactly ``dim`` elements. A
    shorter array makes element_at read past the end: under ANSI mode
    (the Spark 4 default) that raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT;
    with ANSI off it yields null, which nulls the whole dot product (or
    norm), so the scoring clamp silently turns the cosine into 0. A
    longer array is silently truncated to its first ``dim`` elements."""
    return dot_col(a, b, dim)


def dot_col(a: Column, b: Column, dim: int | None = None) -> Column:
    if dim == 0:  # fold over an empty array yields the 0.0 seed
        return F.lit(0.0)
    if dim is not None:
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)),  # foldable -> literal array
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(a, i) * F.element_at(b, i),
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_col(a: Column, dim: int | None = None) -> Column:
    if dim == 0:
        return F.lit(0.0)
    if dim is not None:
        return F.sqrt(
            F.aggregate(
                F.sequence(F.lit(1), F.lit(dim)),
                F.lit(0.0),
                lambda acc, i: acc + F.element_at(a, i) * F.element_at(a, i),
            )
        )
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
