"""Blocking + candidate generation (J1/J2/J8/J11, E1, salting)."""

from __future__ import annotations

from pyspark.sql import functions as F

from energy_aware_entity_resolution_spark.config import PipelineConfig
from energy_aware_entity_resolution_spark.operators.assemble import (
    assemble_conversations,
)
from energy_aware_entity_resolution_spark.operators.blocking import (
    cap_blocks,
    featurize,
    lsh_bands,
)
from energy_aware_entity_resolution_spark.operators.candidates import (
    canonical_pairs,
    exact_pairs,
    lsh_pairs,
    salted_self_join_pairs,
    sorted_neighborhood_pairs,
)

CFG = PipelineConfig()


def _features(spark, transcripts):
    return featurize(assemble_conversations(transcripts), CFG).cache()


def test_exact_pairs_find_planted_duplicates(spark, transcripts):
    feats = _features(spark, transcripts)
    pairs = {
        (r["conv_id_a"], r["conv_id_b"]) for r in exact_pairs(feats).collect()
    }
    # slots 0 and 1 of every group are exact duplicates
    for g in range(20):
        a, b = f"conv_{g * 10:08d}", f"conv_{g * 10 + 1:08d}"
        assert (a, b) in pairs, (a, b)
    # exact pairs must actually have identical signatures
    feats_sig = {r["conv_id"]: r["sig"] for r in feats.select("conv_id", "sig").collect()}
    for a, b in pairs:
        assert feats_sig[a] == feats_sig[b]


def test_lsh_recovers_near_duplicates(spark, transcripts):
    feats = _features(spark, transcripts)
    bands = lsh_bands(feats, CFG)
    pairs = {
        (r["conv_id_a"], r["conv_id_b"]) for r in lsh_pairs(bands, CFG).collect()
    }
    hits = 0
    for g in range(20):
        a, c = f"conv_{g * 10:08d}", f"conv_{g * 10 + 2:08d}"
        if (a, c) in pairs:
            hits += 1
    assert hits >= 19  # LSH is probabilistic; 32 bands x 4 rows ≈ certain here


def test_block_cap_removes_mega_blocks(spark, transcripts):
    feats = _features(spark, transcripts)
    bands = lsh_bands(feats, CFG)
    capped = cap_blocks(bands, ["band_id", "band_hash"], CFG.blocking.max_block_size)
    sizes = capped.groupBy("band_id", "band_hash").count()
    assert sizes.where(F.col("count") > CFG.blocking.max_block_size).count() == 0
    assert sizes.count() > 0


def test_salted_self_join_equals_plain_join(spark):
    df = spark.createDataFrame(
        [(f"id{i:02d}", f"k{i % 3}") for i in range(30)], "conv_id string, key string"
    )
    plain = (
        df.alias("a")
        .join(df.alias("b"), "key")
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            F.col("a.conv_id").alias("conv_id_a"),
            F.col("b.conv_id").alias("conv_id_b"),
        )
    )
    salted = salted_self_join_pairs(df, ["key"], "conv_id", salt_buckets=4)
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    assert salted.count() == plain.count()


def test_oversize_policy_salt_recovers_big_block_pairs(spark, transcripts):
    """With oversize_policy='salt', pairs inside over-cap blocks are
    generated via the salted join instead of lost; with 'drop' they are
    absent. Union of drop-pairs and salted-big-block pairs must equal
    the uncapped join."""
    import dataclasses

    from energy_aware_entity_resolution_spark.config import BlockingConfig

    feats = _features(spark, transcripts)
    tiny_cap = dataclasses.replace(
        CFG.blocking, max_block_size=1, oversize_policy="salt"
    )
    cfg_salt = dataclasses.replace(CFG, blocking=tiny_cap)
    cfg_drop = dataclasses.replace(
        CFG, blocking=dataclasses.replace(tiny_cap, oversize_policy="drop")
    )
    bands = lsh_bands(feats, CFG)
    uncapped_cfg = dataclasses.replace(
        CFG, blocking=dataclasses.replace(CFG.blocking, max_block_size=10**9)
    )
    all_pairs = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in lsh_pairs(bands, uncapped_cfg).collect()
    }
    salted = {
        (r["conv_id_a"], r["conv_id_b"]) for r in lsh_pairs(bands, cfg_salt).collect()
    }
    dropped = {
        (r["conv_id_a"], r["conv_id_b"]) for r in lsh_pairs(bands, cfg_drop).collect()
    }
    assert salted == all_pairs  # recall-preserving
    assert dropped <= all_pairs and len(dropped) < len(all_pairs)


def test_canonical_pairs_dedupe_and_order(spark):
    df = spark.createDataFrame(
        [("b", "a"), ("a", "b"), ("c", "c"), ("a", "c")],
        "conv_id_a string, conv_id_b string",
    )
    out = canonical_pairs(df).collect()
    pairs = {(r["conv_id_a"], r["conv_id_b"]) for r in out}
    assert pairs == {("a", "b"), ("a", "c")}


def test_sorted_neighborhood_block_join_equals_bruteforce(spark, transcripts):
    """The O(w)-per-row rank-block join must produce exactly the pairs
    with 0 < rank_b - rank <= w within each bucket (brute-force check
    on the pandas side)."""
    import pandas as pd

    feats = _features(spark, transcripts)
    sn = sorted_neighborhood_pairs(feats, CFG)
    got = {(r["conv_id_a"], r["conv_id_b"]) for r in sn.collect()}

    pdf = feats.select("conv_id", "sn_key").toPandas()
    pdf["bucket"] = pdf["sn_key"].str.slice(0, 2)
    want = set()
    w = CFG.blocking.sorted_neighborhood_window
    for _, grp in pdf.groupby("bucket"):
        grp = grp.sort_values(["sn_key", "conv_id"]).reset_index(drop=True)
        for i in range(len(grp)):
            for j in range(i + 1, min(i + w + 1, len(grp))):
                a, b = grp["conv_id"][i], grp["conv_id"][j]
                want.add((min(a, b), max(a, b)))
    assert got == want


def test_sorted_neighborhood_pairs_nearby_sigs(spark, transcripts):
    feats = _features(spark, transcripts)
    sn = sorted_neighborhood_pairs(feats, CFG)
    got = sn.count()
    assert got > 0
    # exact dup sigs are identical -> adjacent in key order -> paired
    pairs = {(r["conv_id_a"], r["conv_id_b"]) for r in sn.collect()}
    found = sum(
        1 for g in range(20) if (f"conv_{g * 10:08d}", f"conv_{g * 10 + 1:08d}") in pairs
    )
    assert found >= 15


def test_lsh_group_explosion_equals_naive_self_join(spark):
    """The one-shuffle group-explosion lsh_pairs must emit exactly the
    pair multiset-as-set the textbook capped self-join produces —
    random band tables, including an over-cap block."""
    import random

    rng = random.Random(11)
    rows = []
    for band in range(6):
        for key in range(4):
            members = rng.sample(range(1000), rng.randint(0, 8))
            rows += [(f"c{m:04d}", band, key) for m in members]
    # one hot block above the cap
    rows += [(f"h{m:04d}", 7, 0) for m in range(60)]
    bands = spark.createDataFrame(
        rows, "conv_id string, band_id int, band_hash long"
    )
    got = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in lsh_pairs(bands, CFG).collect()
    }
    capped = cap_blocks(bands, ["band_id", "band_hash"], CFG.blocking.max_block_size)
    a, b = capped.alias("a"), capped.alias("b")
    want = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in a.join(b, ["band_id", "band_hash"])
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            F.col("a.conv_id").alias("conv_id_a"),
            F.col("b.conv_id").alias("conv_id_b"),
        )
        .collect()
    }
    assert got == want
    assert not any(x.startswith("h") for p in got for x in p)  # hot block dropped
