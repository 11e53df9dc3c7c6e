"""Corpus deduplication operators over a documents table
(doc_id, text, ...): exact, MinHash-LSH, SimHash, n-gram Jaccard.

These generalize the ER engine's blocking/candidate layer (J1/J2/J8)
to the training-data-pipeline setting. Where results must be
recomputable by the DuckDB oracle they use the portable md5-based hash
family (functions/portable_hash.py); the transcript ER pipeline keeps
the faster xxhash64/blake2b path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from energy_aware_entity_resolution_spark.functions.portable_hash import (
    md5_hash60_col,
    perm_hash_col,
)
from energy_aware_entity_resolution_spark.operators.candidates import (
    salted_self_join,
)


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by full-text hash: one groupBy, keeps the min doc_id
    as representative (J6 semantics: dedup-before-index).
    Output: (text_hash, keep_id, n_dups)."""
    return (
        docs.select(
            md5_hash60_col(F.col(text_col)).alias("text_hash"), F.col("doc_id")
        )
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Documents with exact duplicates removed (keep min doc_id)."""
    keep = exact_dedup_groups(docs, text_col).select(
        F.col("keep_id").alias("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


def token_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, token) distinct incidence — the G1 analog for documents."""
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
    )
    return docs.select("doc_id", F.explode(toks).alias("token"))


def _minhash_array_portable(
    docs: DataFrame, k: int = 16, text_col: str = "text"
) -> DataFrame:
    """(doc_id, sigs array<long>) portable MinHash: ONE token explode +
    ONE groupBy computing all k permutation mins as fixed-width
    aggregate columns. The previous shape additionally exploded each
    token row k ways (k× the aggregation input) and re-grouped — the
    k-column form shuffles map-side-combined 8-byte mins instead
    (guide §2.3 "aggregate before you shuffle"); values are identical
    (same universal-hash formula per i, same per-doc min sets)."""
    toks = token_table(docs, text_col).withColumn(
        "x31", md5_hash60_col(F.col("token")) % F.lit(2**31)
    )
    mins = toks.groupBy("doc_id").agg(
        *[
            F.min(perm_hash_col(F.col("x31"), i)).alias(f"_m{i}")
            for i in range(k)
        ]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"_m{i}") for i in range(k)]).alias("sigs")
    )


def minhash_signatures_portable(
    docs: DataFrame, k: int = 16, text_col: str = "text"
) -> DataFrame:
    """Exploded portable MinHash: (doc_id, i, minhash) for i in [0,k).

    Token hash = md5-60bit mod 2^31; permutation i = universal hash
    with arithmetically-derived coefficients, min per (doc, i) —
    computed in array form (_minhash_array_portable, one groupBy) and
    exploded to the public schema. Oracle-recomputable verbatim.
    """
    return _minhash_array_portable(docs, k, text_col).select(
        "doc_id", F.posexplode("sigs").alias("i", "minhash")
    )


def lsh_band_keys_portable(
    signatures: DataFrame, bands: int = 4, rows: int = 4
) -> DataFrame:
    """(doc_id, band_id, band_key) from exploded signatures; band_key
    is the '-'-joined hash run (string — portable, unlike xxhash64)."""
    return (
        signatures.withColumn("band_id", (F.col("i") / rows).cast("int"))
        .groupBy("doc_id", "band_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("i"), F.col("minhash")))
                    ),
                    lambda s: s["minhash"].cast("string"),
                ),
                "-",
            ).alias("band_key")
        )
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    max_block: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH banding:
    signature → band keys → capped self-join (same shape as the
    transcript LSH path, J8/J11).

    Plan shape (r06): band keys come straight from the ARRAY signature
    (slice + concat per band — no per-(doc,i) re-aggregation), and the
    cap uses a window count over the band key so sizing, capping and
    the self-join share ONE exchange of the band table (the
    count-aggregate + semi-join form shuffled it twice; same rows out
    — the lsh_pairs argument, candidates.py)."""
    arr = _minhash_array_portable(docs, k, text_col)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_id"),
                F.concat_ws(
                    "-",
                    *[
                        F.col("sigs")[bi * rows + r].cast("string")
                        for r in range(rows)
                    ],
                ).alias("band_key"),
            )
            for bi in range(bands)
        ]
    )
    keys = arr.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", "bk.band_id", "bk.band_key"
    )
    w_band = Window.partitionBy("band_id", "band_key")
    capped = (
        keys.withColumn("_n", F.count("*").over(w_band))
        .where(F.col("_n") <= max_block)
        .drop("_n")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .distinct()
    )


def near_dup_pairs_verified(
    docs: DataFrame,
    threshold: float = 0.7,
    k: int = 16,
    bands: int = 4,
    rows: int = 4,
    max_block: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """The standard two-stage near-dup detector: MinHash-LSH candidate
    generation (banded equi-join, block-capped — never all-pairs)
    followed by EXACT token-set Jaccard verification of only the
    candidates. Closes ngram_jaccard_pairs' caveat (it needs caller
    blocks or goes quadratic): here LSH IS the blocking, so the
    operator is safe to point at an unblocked corpus.

    Output: (doc_id_a, doc_id_b, jaccard) with jaccard >= threshold.
    Recall is bounded by the LSH S-curve at (1/bands)^(1/rows)
    (defaults ≈ 0.71-threshold-ish) — raise bands/lower rows for
    lower-threshold recall.
    """
    cands = minhash_dedup_pairs(docs, k, bands, rows, max_block, text_col)
    toks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
        )
    )
    sides = docs.select("doc_id", toks.alias("toks"))
    a = sides.select(
        F.col("doc_id").alias("doc_id_a"), F.col("toks").alias("toks_a")
    )
    b = sides.select(
        F.col("doc_id").alias("doc_id_b"), F.col("toks").alias("toks_b")
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.size(F.array_union(F.col("toks_a"), F.col("toks_b")))
    return (
        cands.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_col(text_col: F.Column, bits: int = 32) -> F.Column:
    """SimHash over whitespace tokens: bit j of the result is the sign
    of sum over tokens of (+1 if bit j of md5-60bit(token) else -1).

    Pure column expression: tokens -> hashes -> per-bit fold. bits<=32
    keeps the bit loop small enough for codegen.
    """
    toks = F.array_distinct(
        F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != F.lit(""))
    )
    hs = F.transform(toks, md5_hash60_col)
    # one fold producing the 32 per-bit vote counts (32 separate
    # aggregate folds blow up codegen and re-walk the token array)
    pows = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    votes = F.aggregate(
        hs,
        F.array(*[F.lit(0) for _ in range(bits)]),
        lambda acc, h: F.zip_with(
            acc,
            pows,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    bit_vals = F.zip_with(
        votes,
        pows,
        lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bit_vals, F.lit(0).cast("long"), lambda a, x: a + x)


def simhash_dedup_pairs(
    docs: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    max_block: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, at scale.

    Pigeonhole banding (Manku et al., WWW'07 simhash dedup): split the
    b-bit fingerprint into (max_hamming + 1) chunks — any pair within
    Hamming distance d agrees EXACTLY on at least one chunk — so
    candidate generation is an equi-join on (chunk_idx, chunk_value),
    never an all-pairs scan; the exact Hamming test
    (bit_count(xor) <= d) then filters candidates. Hot chunks (all-zero
    fingerprints of boilerplate) are capped like LSH bands (J11).

    Output: (doc_id_a, doc_id_b, hamming).
    """
    chunks = max_hamming + 1
    if bits % chunks:
        raise ValueError(f"bits={bits} must divide into {chunks} chunks")
    width = bits // chunks
    mask = (1 << width) - 1
    sh = docs.select("doc_id", simhash_col(F.col(text_col), bits).alias("sh"))
    chunk_arr = F.array(
        *[
            F.shiftright(F.col("sh"), i * width).bitwiseAND(F.lit(mask))
            for i in range(chunks)
        ]
    )
    banded = sh.select(
        "doc_id", "sh", F.posexplode(chunk_arr).alias("chunk_idx", "chunk")
    )
    sizes = banded.groupBy("chunk_idx", "chunk").count()
    keep = sizes.where(F.col("count") <= max_block).drop("count")
    capped = banded.join(keep, ["chunk_idx", "chunk"], "left_semi")
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.bit_count(
                F.col("a.sh").bitwiseXOR(F.col("b.sh"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_cols: list[str],
    threshold: float = 0.3,
    text_col: str = "text",
) -> DataFrame:
    """Token-set Jaccard near-dup pairs within explicit blocks (the
    M3 scorer applied corpus-wide; blocks bound the self-join)."""
    toks = F.array_sort(
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
            )
        )
    )
    sel = docs.select("doc_id", *block_cols, toks.alias("toks"))
    a = sel.alias("a")
    b = sel.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    return (
        a.join(b, block_cols)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_bits: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation_seed: int | None = None,
    max_bucket_rows: int = 16384,
    salt_buckets: int = 8,
    dim: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-LSH bucket equi-join
    with exact cosine verification >= threshold (the embedding-space
    member of the dedup family, next to MinHash/SimHash/n-gram).

    Scale shape: the LSH bucket IS the blocking — no all-pairs join
    ever exists; each vector is owned by exactly one bucket so pairs
    emit once (no dedup shuffle). n_bits=None derives from N
    (sign_lsh_buckets); rotation_seed opts into rotated hyperplanes for
    correlated-dimension embeddings. Recall < 1 by construction
    (boundary neighbors in different buckets) — raise recall with more
    verification passes at different rotation seeds, each a new
    equi-join, never a cross join.

    SKEW DEFENSE (lsh_pairs' count-first pattern, candidates.py:93-160;
    reference hub-cap analog dynamic_entity_resolution.py:283-289): a
    degenerate vector population (boilerplate/zero embeddings,
    correlated dims under the axis-aligned default) can concentrate
    mass in ONE bucket, whose C(m,2) self-join would otherwise land in
    a single uncapped task. Buckets above max_bucket_rows instead run
    a deterministic salted self-join CARRYING the vectors (each row
    replicated ≤ salt_buckets times — never the C(m,2) pairs reshuffled
    for a vector re-join), so one hot bucket becomes ~s²/2 balanced
    tasks. Recall-preserving: the salted branch emits exactly the
    plain join's verified pairs. The oversize key set broadcasts —
    it is small by construction (skew MEANS few hot buckets; the
    auto-n_bits path keeps expected occupancy ~4k ≪ the cap, so
    uniformly-oversize buckets don't arise)."""
    from energy_aware_entity_resolution_spark.operators.similarity_search import (
        _cosine_prenorm,
        _dim_of,
        _with_vec_norm,
        sign_lsh_buckets,
    )

    if dim is None:  # callers that know it (multipass) skip the probe
        dim = _dim_of(vectors, vec_col)
    # cast to double + norm ONCE PER ROW before the bucket self-join
    # (guide §2.3); each joined pair then pays only the index-fold dot +
    # one multiply — bit-identical to the old per-pair _cosine
    b = _with_vec_norm(
        sign_lsh_buckets(
            vectors, n_bits, id_col, vec_col, rotation_seed=rotation_seed,
            dim=dim,
        ),
        vec_col,
        dim,
        "_v",
    ).drop(vec_col)
    # Hot-bucket keys collect to the driver (guide §2.4: the set is
    # small by construction — skew means FEW hot buckets — and was
    # being collected into a broadcast relation anyway); membership
    # becomes an InSet filter, which removes two broadcast joins from
    # every pass, and when NO bucket exceeds the cap (the common case)
    # the whole salted subtree is omitted — provably identical output.
    # A caller-supplied total row count <= max_bucket_rows proves no
    # bucket can exceed the cap without the aggregation job at all.
    if n_rows is not None and n_rows <= max_bucket_rows:
        big: list = []
    else:
        big = [
            r["bucket"]
            for r in b.groupBy("bucket")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_bucket_rows)
            .select("bucket")
            .collect()
        ]
    small = b.where(~F.col("bucket").isin(big)) if big else b
    a_side = small.select(
        "bucket",
        F.col(id_col).alias("_ida"),
        F.col("_vd").alias("_vda"),
        F.col("_vn").alias("_vna"),
    )
    b_side = small.select(
        "bucket",
        F.col(id_col).alias("_idb"),
        F.col("_vd").alias("_vdb"),
        F.col("_vn").alias("_vnb"),
    )
    pair_cos = _cosine_prenorm(
        F.col("_vda"), F.col("_vdb"), F.col("_vna"), F.col("_vnb"), dim
    )
    plain = (
        a_side.join(b_side, "bucket")
        .where(F.col("_ida") < F.col("_idb"))
        .select(
            F.col("_ida").alias(f"{id_col}_a"),
            F.col("_idb").alias(f"{id_col}_b"),
            pair_cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    if not big:
        return plain
    # salted branch: the verify cosine computes inside the balanced join
    ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    salted = (
        salted_self_join(
            b.where(F.col("bucket").isin(big)), ["bucket"], id_col, salt_buckets
        )
        .select(
            F.least(ida, idb).alias(f"{id_col}_a"),
            F.greatest(ida, idb).alias(f"{id_col}_b"),
            _cosine_prenorm(
                F.col("a._vd"), F.col("b._vd"), F.col("a._vn"), F.col("b._vn"), dim
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates([f"{id_col}_a", f"{id_col}_b"])
    )
    # a pair lives in exactly one bucket, and a bucket is either small
    # or big — the branches are disjoint, so the union needs no dedup
    return plain.unionByName(salted)


def embedding_near_dup_pairs_multipass(
    vectors: DataFrame,
    rotation_seeds: list[int],
    threshold: float = 0.9,
    n_bits: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_rows: int = 16384,
    salt_buckets: int = 8,
) -> DataFrame:
    """Multi-pass rotated-LSH near-dup: union of verified pairs across
    n independent rotation seeds — the "more verification passes"
    recall lever the single-pass docstring names, made concrete.

    A boundary pair split by one rotation's hyperplanes collides under
    another with independent probability, so recall is monotone in the
    number of passes (1 - miss_rate^n for independent rotations) while
    each pass stays one bucket equi-join — the union NEVER becomes a
    cross join. Verified pairs are exact-cosine-checked, so extra
    passes add recall without any precision cost; the final
    dropDuplicates removes pairs caught by several passes (keyed dedup
    of an already-verified, threshold-pruned pair set — small)."""
    if not rotation_seeds:
        raise ValueError("embedding_near_dup_pairs_multipass: no seeds")
    from energy_aware_entity_resolution_spark.operators.similarity_search import (
        _dim_of,
    )

    # shared probes: one dim head() and one row count serve every pass
    # (each pass otherwise pays its own probe + hot-bucket aggregation
    # job — pure fixed cost at micro scale, guide §1.5/§5)
    dim = _dim_of(vectors, vec_col)
    n_rows = vectors.count()
    passes = [
        embedding_near_dup_pairs(
            vectors, threshold, n_bits, id_col, vec_col, rotation_seed=s,
            max_bucket_rows=max_bucket_rows, salt_buckets=salt_buckets,
            dim=dim, n_rows=n_rows,
        )
        for s in rotation_seeds
    ]
    out = passes[0]
    for p in passes[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates([f"{id_col}_a", f"{id_col}_b"])
