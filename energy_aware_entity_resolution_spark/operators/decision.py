"""Decision / rank-based filtering (SURVEY.md §2.5 D1-D9).

Reference: ratio/delta tests + reciprocal-nearest-neighbor over the
top-k cosine lists (dynamic_entity_resolution.py:247-382), top-n
neighbor heaps (similaritylist.py:133-151), hub cap (..:283-289).
All become window functions + equi-joins on the scored-pair DataFrame.

Determinism: every ordering uses (score desc, partner id asc) so ties
resolve identically at any parallelism (SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from energy_aware_entity_resolution_spark.config import PipelineConfig


def _directed(scored: DataFrame) -> DataFrame:
    """Pair rows -> both directions (src, dst, score) for per-record
    neighbor-list semantics. Explode, not union-of-two-selects: one
    scan of the scored pairs instead of two (scoring is the widest
    intermediate in the pipeline — rescanning it doubles either the
    cache read or, un-persisted, the whole scoring computation)."""
    both = F.array(
        F.struct(F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")),
        F.struct(F.col("conv_id_b").alias("src"), F.col("conv_id_a").alias("dst")),
    )
    return scored.select(F.explode(both).alias("_e"), "score").select(
        "_e.src", "_e.dst", "score"
    )


def ratio_test(directed_ranked: DataFrame, ratio: float, delta: float = 0.0) -> DataFrame:
    """D1: keep a record's best edge only if s1/s2 >= ratio (and
    s1-s2 >= delta); lead() supplies s2 (the reference reads the
    second-best from the sorted top-k list)."""
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    with_next = directed_ranked.withColumn("s2", F.lead("score").over(w))
    best = with_next.where(F.col("rank") == 1)
    passes = (
        F.col("s2").isNull()
        | (
            (F.col("score") / F.greatest(F.col("s2"), F.lit(1e-9)) >= F.lit(ratio))
            & (F.col("score") - F.col("s2") >= F.lit(delta))
        )
    )
    return best.where(passes)


def mutual_top1(best_edges: DataFrame) -> DataFrame:
    """D3: reciprocal nearest neighbor — keep (u,v) iff (v,u) is also a
    best edge. One equi-self-join."""
    other = best_edges.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    return best_edges.join(other, on=["src", "dst"], how="left_semi")


def hub_cap(pairs: DataFrame, max_degree: int) -> DataFrame:
    """D4/J11: drop records appearing in more than max_degree pairs
    (np.bincount filter in the reference)."""
    deg = (
        _directed(pairs.select("conv_id_a", "conv_id_b", F.lit(0.0).alias("score")))
        .groupBy("src")
        .count()
    )
    hot = deg.where(F.col("count") > max_degree).select(F.col("src").alias("hot_id"))
    step1 = pairs.join(hot, pairs["conv_id_a"] == hot["hot_id"], "left_anti")
    return step1.join(hot, step1["conv_id_b"] == hot["hot_id"], "left_anti")


def decide_matches(scored: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """D5 composition: threshold pass-through (D2) ∪ ratio-tested best
    edges (D1, optionally mutual D3), all above match_threshold; output
    canonical match pairs with decision provenance.

    Plan shape (verified on the executed AQE plan): both branches are
    written against the same windowed directed frame; Catalyst then
    PRUNES the window out of the direct branch (it references no
    rank/s2), pushing `score >= direct_threshold` to the scan — so the
    physical plan is one Window shuffle (ratio branch) plus one cheap
    filtered re-scan of `scored` (direct branch). With `scored`
    persisted (run_pipeline does, lazily), the window branch's stage
    populates the cache and the direct branch reads it: scoring
    computes exactly once per pipeline, and the whole decision runs
    inside the downstream dedup-aggregate's action — no extra stage
    barrier.
    """
    sc = cfg.scoring
    # rank + runner-up in ONE window pass (row_number and lead share
    # the window spec, so Catalyst emits a single Window operator —
    # ranking first and re-windowing the filtered result would shuffle
    # the directed edges twice)
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    annotated = (
        _directed(scored)
        .withColumn("rank", F.row_number().over(w))
        .withColumn("s2", F.lead("score").over(w))
    )
    direct = (
        annotated.where(F.col("score") >= sc.direct_threshold)
        .where(F.col("src") < F.col("dst"))  # each pair once
        .select(
            F.col("src").alias("conv_id_a"),
            F.col("dst").alias("conv_id_b"),
            "score",
            F.lit("direct").alias("decision"),
        )
    )
    # D1 composition: ratio AND delta on the best edge (reference
    # dynamic_entity_resolution.py:311-324 applies both; either
    # disables at its neutral value — ratio 1.0, delta 0.0)
    passes = F.col("s2").isNull() | (
        (
            F.col("score") / F.greatest(F.col("s2"), F.lit(1e-9))
            >= F.lit(sc.ratio_threshold)
        )
        & (F.col("score") - F.col("s2") >= F.lit(sc.delta_threshold))
    )
    best = annotated.where(F.col("rank") == 1).where(passes)
    if sc.mutual_only:
        best = mutual_top1(best.select("src", "dst", "score"))
    tested = (
        best.where(F.col("score") >= sc.match_threshold)
        .select(
            F.least("src", "dst").alias("conv_id_a"),
            F.greatest("src", "dst").alias("conv_id_b"),
            "score",
            F.lit("ratio").alias("decision"),
        )
        .dropDuplicates(["conv_id_a", "conv_id_b"])
    )
    return (
        direct.unionByName(tested)
        .groupBy("conv_id_a", "conv_id_b")
        .agg(F.max("score").alias("score"), F.min("decision").alias("decision"))
    )
