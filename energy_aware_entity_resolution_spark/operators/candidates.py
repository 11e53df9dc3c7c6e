"""Candidate-pair generation (SURVEY.md §2.3 J2-J10, E1).

The reference's candidate layer is (a) bitmask hash-blocking with an
intra-block nested loop (exact_matching.py:30-55) and (b) a FAISS
top-k probe (dynamic_entity_resolution.py:10-121). Both become
equi-self-joins here:

- exact candidates: join on the canonical signature hash — equality of
  the frozenset signature IS the join key, so the reference's O(n²)
  in-block loop disappears entirely;
- LSH candidates: join on (band_id, band_hash) after block capping;
- sorted-neighborhood candidates: rank within sig-prefix buckets and
  pair records within a window w of each other.

All outputs are canonical pairs (conv_id_a < conv_id_b, deduped) — E1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from energy_aware_entity_resolution_spark.config import PipelineConfig


def canonical_pairs(pairs: DataFrame, a: str = "conv_id_a", b: str = "conv_id_b") -> DataFrame:
    """Order each pair (min, max) and dedupe (E1; reference
    evaluation.py:128-133)."""
    return (
        pairs.select(
            F.least(a, b).alias(a),
            F.greatest(a, b).alias(b),
            *[c for c in pairs.columns if c not in (a, b)],
        )
        .where(F.col(a) != F.col(b))
        .dropDuplicates([a, b])
    )


def exact_pairs(features: DataFrame) -> DataFrame:
    """J2: pairs with identical token signature (score 1.0 by
    construction). Join on (bitmask, sig_hash) — the bitmask re-creates
    the reference's cheap pre-filter, the hash carries the equality."""
    sel = features.select("conv_id", "bitmask", "sig_hash", "sig")
    a = sel.alias("a")
    b = sel.alias("b")
    return (
        a.join(b, on=["bitmask", "sig_hash"])
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .where(F.col("a.sig") == F.col("b.sig"))  # guard hash collisions
        .select(
            F.col("a.conv_id").alias("conv_id_a"),
            F.col("b.conv_id").alias("conv_id_b"),
            F.lit("exact").alias("source"),
        )
    )


def lsh_pairs(bands: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """J8: within-block pairs of the capped band table.

    Shape: (1) ONE exchange+sort of the band table, over which a
    window COUNT per band key sizes every band exactly (sort-based: no
    collect_set ever holds an over-cap band's ids, but WindowExec still
    sorts and buffers each band's whole row set in ONE task — a hot
    band lands in a single task's spillable buffer), (2) the cap
    filter, (3) a groupBy on the same key (partitioning reused, no
    second Exchange) collecting the ≤ max_block member ids and
    exploding each block's C(m,2) pairs with a JVM array
    comprehension. Sizing BEFORE collecting matters: collecting member
    sets before the size filter would materialize a hot/boilerplate
    band's entire membership in one aggregation buffer — the exact
    block the cap exists to drop, an executor OOM at scale. With the
    pre-filter every collect buffer is bounded at max_block ids. (The
    round-5 shape — count aggregate + left_semi join — shuffled the
    band table twice; the window form halves that, measured 7.4 → 5.4 s
    at 7.7M band rows, OPTIMIZATION_r06.md.) The in-block explosion
    (vs the old SELF-join for pair generation) is kept — that was the
    2.8x CPU win.

    With oversize_policy='salt', blocks above the cap are kept and
    exploded via the deterministic salted self-join so a hot band
    becomes ~s²/2 balanced tasks (recall-preserving). Output is
    deduped by candidate_pairs' terminal groupBy — pairs sharing
    several bands emit once per band here; an extra dropDuplicates
    would be one more full shuffle of the largest intermediate.

    INPUT CONTRACT: ``bands`` must hold exactly one row per
    (conv_id, band_id, band_hash) — lsh_bands emits exactly that. The
    pre-cap counts ROWS while pair generation collects DISTINCT ids;
    duplicated band rows would misclassify cap-boundary bands (dropping
    a legal band or passing an oversize one) — a silent recall loss,
    not an error. Callers feeding hand-built band tables must
    dropDuplicates(["band_id", "band_hash", "conv_id"]) first.
    """
    max_block = cfg.blocking.max_block_size
    # ONE exchange instead of two: the count-then-semi-join shape
    # shuffled the band table for the counts aggregate AND again for
    # the join; a window count over the band key needs a single
    # exchange+sort, and the collect_set groupBy reuses its
    # partitioning (guide §2.4 "two operations keyed the same way share
    # one exchange"). Same cap semantics: _n is the exact band size,
    # and no collect_set holds an over-cap band's members — though the
    # window itself buffers each band's rows in one task (spillable).
    # Measured 7.4 -> 5.4 s on the 7.7M-row band table
    # (OPTIMIZATION_r06.md).
    w_band = Window.partitionBy("band_id", "band_hash")
    counted = bands.withColumn("_n", F.count("*").over(w_band))
    small = (
        counted.where((F.col("_n") >= 2) & (F.col("_n") <= max_block))
        .groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_set("conv_id")).alias("ids"))
    )
    ids = F.col("ids")
    # (a, b) for all i < j — transform's second lambda arg is the index
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(
                    x.alias("conv_id_a"), y.alias("conv_id_b")
                ),
            ),
        )
    )
    out = (
        small.select(F.explode(pair_structs).alias("p"))
        .select("p.conv_id_a", "p.conv_id_b")
        .withColumn("source", F.lit("lsh"))
    )
    if cfg.blocking.oversize_policy == "salt":
        big = counted.where(F.col("_n") > max_block).drop("_n")
        salted = salted_self_join_pairs(
            big, ["band_id", "band_hash"], "conv_id", cfg.blocking.salt_buckets
        ).withColumn("source", F.lit("lsh_salted"))
        out = out.unionByName(salted)
    return out


def salted_self_join_pairs(
    blocks: DataFrame, key_cols: list[str], id_col: str, salt_buckets: int
) -> DataFrame:
    """All-pairs within a block via a salted self-join (SURVEY.md §4
    custom work #2): rows are hashed into s sub-buckets; the join runs
    per (bucket_i, bucket_j) pair so one hot block becomes ~s²/2
    balanced tasks instead of one straggler.

    Deterministic salt: pmod(xxhash64(id), s) — no rand(), so replays
    and the two-parallelism bench see identical partitions.
    """
    s = salt_buckets
    salted = blocks.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)))
    left = salted.withColumn("_i", F.col("_salt")).withColumn(
        "_j", F.explode(F.sequence(F.col("_salt"), F.lit(s - 1)))
    )
    right = salted.withColumn("_j", F.col("_salt")).withColumn(
        "_i", F.explode(F.sequence(F.lit(0), F.col("_salt")))
    )
    on = key_cols + ["_i", "_j"]
    a = left.alias("a")
    b = right.alias("b")
    # a pair whose smaller id sits in the HIGHER bucket only appears in
    # the (bigger, smaller) orientation — so filter !=, canonicalize
    # with least/greatest, then dedupe (same-bucket pairs appear twice).
    return (
        a.join(b, on=on)
        .where(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("conv_id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("conv_id_b"),
        )
        .dropDuplicates(["conv_id_a", "conv_id_b"])
    )


def sorted_neighborhood_pairs(features: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Sorted-neighborhood blocking: rank by sn_key within a 2-char
    prefix bucket (keeps the sort distributed — no global orderBy) and
    pair each record with the w records after it in key order.

    Classic Hernández-Stolfo SN re-expressed as window + self-join on
    rank blocks; neighborhoods never cross prefix buckets, an accepted
    approximation that keeps the operator shuffle-bounded at scale.
    """
    w = cfg.blocking.sorted_neighborhood_window
    bucket = F.substring("sn_key", 1, 2)
    ranked = features.select(
        "conv_id",
        "sn_key",
        bucket.alias("bucket"),
        F.row_number()
        .over(Window.partitionBy(bucket).orderBy("sn_key", "conv_id"))
        .alias("rank"),
    ).withColumn("blk", F.floor(F.col("rank") / w))
    # |rank_b - rank| <= w implies the rank-blocks differ by at most 1,
    # so join on (bucket, blk) with the left side exploded over
    # {blk, blk+1} — the join is O(w) per row instead of O(bucket²)
    left = ranked.select(
        "bucket",
        F.col("conv_id"),
        F.col("rank"),
        F.explode(F.array(F.col("blk"), F.col("blk") + 1)).alias("jblk"),
    )
    right = ranked.select(
        F.col("bucket"),
        F.col("conv_id").alias("conv_id_b"),
        F.col("rank").alias("rank_b"),
        F.col("blk").alias("jblk"),
    )
    return (
        left.join(right, on=["bucket", "jblk"])
        .where(
            (F.col("rank_b") > F.col("rank"))
            & (F.col("rank_b") <= F.col("rank") + w)
        )
        .select(
            F.least("conv_id", "conv_id_b").alias("conv_id_a"),
            F.greatest("conv_id", "conv_id_b").alias("conv_id_b"),
        )
        .withColumn("source", F.lit("sn"))  # deduped by candidate_pairs
    )


# provenance as bits so the dedup groupBy aggregates a fixed-width
# long (bit_or, map-side combinable) instead of building string-set
# objects — at 10^12 rows the candidate dedup is the widest shuffle in
# the pipeline and its aggregation buffer should be 8 bytes, not a set
_SOURCE_BITS = {"exact": 1, "lsh": 2, "sn": 4, "lsh_salted": 8}


def candidate_pairs(
    features: DataFrame, bands: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Union of exact + LSH (+ sorted-neighborhood) candidates,
    deduped with source provenance kept for the audit table.

    Output schema unchanged: (conv_id_a, conv_id_b, sources
    array<string> sorted) — the provenance travels through the shuffle
    as a bitmask and is expanded after the aggregate."""
    parts = [exact_pairs(features), lsh_pairs(bands, cfg)]
    if cfg.blocking.use_sorted_neighborhood:
        parts.append(sorted_neighborhood_pairs(features, cfg))
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    src_bit = F.lit(0)
    for name, bit in _SOURCE_BITS.items():
        src_bit = F.when(F.col("source") == name, F.lit(bit)).otherwise(src_bit)
    masked = allp.select(
        "conv_id_a", "conv_id_b", src_bit.cast("long").alias("_bit")
    )
    agged = masked.groupBy("conv_id_a", "conv_id_b").agg(
        F.bit_or("_bit").alias("_mask")
    )
    sources = F.array_sort(
        F.concat(
            *[
                F.when(
                    F.col("_mask").bitwiseAND(F.lit(bit)) != 0,
                    F.array(F.lit(name)),
                ).otherwise(F.array().cast("array<string>"))
                for name, bit in _SOURCE_BITS.items()
            ]
        )
    )
    return agged.select("conv_id_a", "conv_id_b", sources.alias("sources"))
