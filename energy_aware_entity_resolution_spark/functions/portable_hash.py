"""Cross-engine portable hashing.

The engine's hot paths use Spark-native xxhash64 (JVM, fastest). But
operators whose results must be reproducible by OTHER engines (the
DuckDB correctness oracle, downstream consumers of dedup fingerprints)
use an md5-derived 60-bit hash that any SQL engine can compute:

  Spark : conv(substr(md5(x), 1, 15), 16, 10)  -> bigint
  DuckDB: ('0x' || substr(md5(x), 1, 15))::bigint
  Python: int(hashlib.md5(x).hexdigest()[:15], 16)

15 hex chars = 60 bits: always positive in signed int64, and products
with 31-bit coefficients stay under 2^63 in the (a*x+b) mod p
universal-hash family below (both engines error/ wrap differently on
int64 overflow, so staying under 2^62 is load-bearing).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE31 = 2147483647  # 2^31 - 1


def md5_hash60_col(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash60_py(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def md5_hash60_sql(expr: str) -> str:
    """DuckDB SQL fragment computing the same value."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::bigint)"


def perm_coeff_a(i: int) -> int:
    """Deterministic odd 31-bit multiplier for permutation i — a plain
    arithmetic formula so SQL oracles can derive it from i inline."""
    return ((1103515245 * (i + 1) + 12345) % (1 << 31)) | 1


def perm_coeff_b(i: int) -> int:
    return (69069 * (i + 1) + 1) % (1 << 31)


def perm_hash_col(x31: Column, i: int) -> Column:
    """h_i(x) = (a_i * x + b_i) mod (2^31-1), x already reduced mod 2^31."""
    return (F.lit(perm_coeff_a(i)) * x31 + F.lit(perm_coeff_b(i))) % F.lit(MERSENNE31)


def portable_minhash_col(tokens: Column, k: int) -> Column:
    """array<string> tokens -> array<long> portable k-MinHash, pure
    column expression (no UDF): token hash = md5-60bit mod 2^31,
    permutation i = the universal-hash family above, min per position.
    Empty token sets get the deterministic filler h_i(0) = b_i mod p.

    Used by featurize(portable=True) — the correctness-gate hash family
    that the DuckDB oracle recomputes verbatim. O(k·|tokens|) per row;
    the production path keeps the fused Arrow UDF (minhash.py).
    """
    xs = F.transform(tokens, lambda t: md5_hash60_col(t) % F.lit(1 << 31))

    # single-arg closure per i: a two-parameter lambda would make
    # F.transform pass the ARRAY INDEX as the second argument
    def _perm(i: int):
        return lambda x: perm_hash_col(x, i)

    sigs = []
    for i in range(k):
        hv = F.array_min(F.transform(xs, _perm(i)))
        sigs.append(F.coalesce(hv, F.lit(perm_coeff_b(i) % MERSENNE31)))
    return F.array(*sigs)


def portable_embed_col(tokens: Column, dim: int) -> Column:
    """array<string> tokens -> UNNORMALIZED array<double> signed-count
    feature-hash embedding: token t adds ±1 (sign = top bit of its
    md5-60bit hash) at index hash mod dim.

    Deliberately integer-valued so every downstream float op (dot,
    norms, one divide) is a single IEEE operation on exact inputs —
    bit-identical across Spark and the DuckDB oracle. Consumers must
    use the full cosine (dot / (|a|·|b|)), not the unit-vector dot.
    """
    hs = F.transform(tokens, md5_hash60_col)
    zero = F.array(*[F.lit(0.0) for _ in range(dim)])
    idxs = F.sequence(F.lit(0), F.lit(dim - 1))

    def _add(acc: Column, h: Column) -> Column:
        sign = F.when(
            F.shiftright(h, 59).bitwiseAND(F.lit(1)) == 1, F.lit(1.0)
        ).otherwise(F.lit(-1.0))
        return F.zip_with(
            acc,
            idxs,
            lambda a, i: a + F.when((h % dim) == i, sign).otherwise(F.lit(0.0)),
        )

    return F.aggregate(hs, zero, _add)
