"""Featurization + blocking tables (SURVEY.md §2.2-2.3, J1/J11, G1).

The reference materializes a heterogeneous token graph
(dynamic_graph.py:495-576) whose record↔token incidence drives both
blocking and embeddings. Here that incidence *is* the blocking layer:
a featurized conversation table plus exploded band/key tables, all
plain DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from energy_aware_entity_resolution_spark.config import PipelineConfig
from energy_aware_entity_resolution_spark.functions.cleaning import (
    clean_text_col,
    signature_col,
    tokens_col,
)
from energy_aware_entity_resolution_spark.functions.keys import (
    bitmask_col,
    sig_hash_col,
    sorted_neighborhood_key_col,
)
from energy_aware_entity_resolution_spark.functions.minhash import (
    band_table,
    make_minhash_embed_udf,
)


def corpus_stopwords(tokenized: DataFrame, ratio: float) -> list[str]:
    """Tokens present in > ratio of conversations (A3 IDF analog).

    One explode + groupBy; the result is tiny by construction (at most
    avg_tokens_per_doc / ratio distinct tokens can exceed the bar), so
    it collects to the driver and broadcasts as a literal array.
    """
    n = tokenized.count()
    hot = (
        tokenized.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .count()
        .where(F.col("count") > ratio * n)
    )
    return [r["token"] for r in hot.collect()]


def featurize(assembled: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """assembled conversations -> + cleaned/tokens/sig/keys/minhash/vec.

    Two passes: (1) tokenize + corpus-stopword discovery (one
    explode/groupBy — the reference computes the same IDF statistics,
    dynamic_graph.py:377-391), (2) one wide projection computing all
    keys/signatures; the pandas UDFs (minhash, embed) run on the
    DF-pruned `rare_tokens` so boilerplate never reaches LSH — killing
    the hot-band skew at its source rather than only capping it later.

    Exact-match signature/bitmask keep ALL tokens (exact semantics are
    whole-text equality, J2).
    """
    minhash_embed = make_minhash_embed_udf(
        cfg.blocking.minhash_k, cfg.scoring.embedding_dim
    )
    # drop the per-turn struct array before any shuffle/persist: the
    # feature table is joined/cached repeatedly and must carry only
    # what blocking+scoring read (turns are reconstructable from the
    # transcripts table) — hand column pruning at the stage boundary
    slim = assembled.drop("turns", "roles", "first_ts", "last_ts")
    tokenized = (
        slim.withColumn("cleaned", clean_text_col(F.col("doc")))
        .withColumn("tokens", tokens_col(F.col("cleaned")))
    )
    # stopword discovery runs two actions over the tokenized plan and
    # the projection below reads it again — persist so assembly +
    # cleaning execute once, not four times
    tokenized = tokenized.persist()
    stop = corpus_stopwords(tokenized, cfg.blocking.df_stopword_ratio)
    stop_lit = F.array(*[F.lit(t) for t in stop]) if stop else F.array().cast(
        "array<string>"
    )
    rare = F.array_except(F.col("tokens"), stop_lit)
    out = (
        tokenized.withColumn("sig", signature_col(F.col("tokens")))
        .withColumn(
            "rare_tokens",
            F.when(F.size(rare) > 0, rare).otherwise(F.col("tokens")),
        )
    )
    keyed = (
        out.withColumn("sig_hash", sig_hash_col(F.col("sig")))
        .withColumn("bitmask", bitmask_col(F.col("sig")))
        .withColumn("rare_sig", signature_col(F.col("rare_tokens")))
        .withColumn("sn_key", sorted_neighborhood_key_col(F.col("rare_tokens")))
    )
    if cfg.blocking.portable:
        # correctness-gate hash family: JVM expressions the DuckDB
        # oracle recomputes verbatim. Shape: explode rare tokens, hash
        # each token ONCE, one groupBy computing all k mins + dim sums
        # in a single hash aggregate, join back — one pass over the
        # token incidence instead of k inlined rescans.
        from energy_aware_entity_resolution_spark.functions.portable_hash import (
            MERSENNE31,
            md5_hash60_col,
            perm_coeff_b,
            perm_hash_col,
        )

        k = cfg.blocking.minhash_k
        dim = cfg.scoring.embedding_dim
        exploded = keyed.select(
            "conv_id", F.explode_outer("rare_tokens").alias("_tok")
        ).select(
            "conv_id", md5_hash60_col(F.col("_tok")).alias("_h")
        ).withColumn("_x31", F.col("_h") % F.lit(1 << 31))
        sign = F.when(
            F.shiftright(F.col("_h"), 59).bitwiseAND(F.lit(1)) == 1, F.lit(1.0)
        ).otherwise(F.lit(-1.0))
        mh_aggs = [
            F.coalesce(
                F.min(perm_hash_col(F.col("_x31"), i)),
                F.lit(perm_coeff_b(i) % MERSENNE31),
            )
            for i in range(k)
        ]
        vec_aggs = [
            F.coalesce(
                F.sum(
                    F.when((F.col("_h") % dim) == d, sign).otherwise(F.lit(0.0))
                ),
                F.lit(0.0),
            )
            for d in range(dim)
        ]
        hashed = exploded.groupBy("conv_id").agg(
            F.array(*mh_aggs).alias("minhash"), F.array(*vec_aggs).alias("vec")
        )
        result = keyed.join(hashed, "conv_id")
    else:
        result = (
            keyed.withColumn("_mv", minhash_embed(F.col("rare_tokens")))
            .withColumn("minhash", F.col("_mv.minhash"))
            .withColumn("vec", F.col("_mv.vec"))
            .drop("_mv")
        )
    # the persisted `tokenized` feeds the (lazy) projection above; the
    # caller must release it once the result is materialized or cached
    # RDDs accumulate across repeated runs in one session (the pipeline
    # driver does this in _maybe_checkpoint)
    result._upstream_caches = [tokenized]  # type: ignore[attr-defined]
    return result


def lsh_bands(features: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(conv_id, band_id, band_hash) LSH blocking table."""
    return band_table(
        features,
        sig_col="minhash",
        id_col="conv_id",
        bands=cfg.blocking.minhash_bands,
        rows=cfg.blocking.minhash_rows,
    )


def cap_blocks(
    blocks: DataFrame, key_cols: list[str], max_size: int
) -> DataFrame:
    """Drop blocks larger than max_size BEFORE pair explosion (J11).

    Reference analog: the hub cap dropping over-frequent candidates
    (dynamic_entity_resolution.py:283-289). A block of size m yields
    m(m-1)/2 pairs; boilerplate-driven mega-blocks (shared greeting
    turns) would otherwise dominate the shuffle. Implemented as an
    aggregate + broadcast-ready semi-join on the block key.
    """
    sizes = blocks.groupBy(*key_cols).count()
    keep = sizes.where(F.col("count") <= max_size).drop("count")
    return blocks.join(keep, on=key_cols, how="left_semi")
