"""Similarity functions (M1-M6) + decision operators (D1-D6)."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from energy_aware_entity_resolution_spark.config import PipelineConfig
from energy_aware_entity_resolution_spark.functions.embeddings import (
    cosine_col,
    make_pooled_embedding_udf,
)
from energy_aware_entity_resolution_spark.functions.minhash import (
    make_minhash_udf,
    minhash_jaccard_est,
)
from energy_aware_entity_resolution_spark.functions.similarity import (
    _jaro_winkler,
    jaccard_col,
    make_jaro_winkler_udf,
    multiset_jaccard_col,
)
from energy_aware_entity_resolution_spark.operators.decision import (
    _directed,
    mutual_top1,
    ratio_test,
)


def _pairs_df(spark):
    return spark.createDataFrame(
        [
            (["a", "b", "c"], ["a", "b", "c"], "abc", "abc"),
            (["a", "b", "c"], ["a", "b", "d"], "abc", "abd"),
            (["a"], ["b"], "aaaa", "bbbb"),
        ],
        "ta array<string>, tb array<string>, sa string, sb string",
    )


def test_jaccard_values(spark):
    out = _pairs_df(spark).select(jaccard_col(F.col("ta"), F.col("tb")).alias("j")).collect()
    assert [round(r["j"], 4) for r in out] == [1.0, 0.5, 0.0]


def test_multiset_jaccard_counter_semantics(spark):
    df = spark.createDataFrame(
        [(["a", "a", "b"], ["a", "b", "b"])], "ta array<string>, tb array<string>"
    )
    got = df.select(multiset_jaccard_col(F.col("ta"), F.col("tb")).alias("m")).collect()[0]["m"]
    # min counts: a->1, b->1 = 2; max: a->2, b->2 = 4
    assert got == pytest.approx(0.5)


def test_jaro_winkler_reference_values():
    # classic textbook values
    assert _jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert _jaro_winkler("DWAYNE", "DUANE") == pytest.approx(0.84, abs=1e-2)
    assert _jaro_winkler("", "x") == 0.0
    assert _jaro_winkler("same", "same") == 1.0


def test_jaro_winkler_udf(spark):
    jw = make_jaro_winkler_udf()
    df = spark.createDataFrame([("MARTHA", "MARHTA")], "a string, b string")
    got = df.select(jw(F.col("a"), F.col("b")).alias("s")).collect()[0]["s"]
    assert got == pytest.approx(0.9611, abs=1e-4)


def test_pooled_embedding_deterministic_unit_norm(spark):
    embed = make_pooled_embedding_udf(32)
    df = spark.createDataFrame(
        [(["hello", "world"],), (["hello", "world"],), ([],)], "toks array<string>"
    )
    vecs = [r["v"] for r in df.select(embed(F.col("toks")).alias("v")).collect()]
    assert vecs[0] == vecs[1]
    assert math.hypot(*vecs[0]) == pytest.approx(1.0, abs=1e-5)
    assert all(x == 0.0 for x in vecs[2])


def test_cosine_identical_tokens_is_one(spark):
    embed = make_pooled_embedding_udf(32)
    df = spark.createDataFrame(
        [(["x", "y", "z"], ["x", "y", "z"])], "a array<string>, b array<string>"
    ).select(embed(F.col("a")).alias("va"), embed(F.col("b")).alias("vb"))
    got = df.select(cosine_col(F.col("va"), F.col("vb")).alias("c")).collect()[0]["c"]
    assert got == pytest.approx(1.0, abs=1e-5)


def test_minhash_estimates_jaccard(spark):
    mh = make_minhash_udf(256)
    base = [f"t{i}" for i in range(40)]
    other = base[:30] + [f"u{i}" for i in range(10)]  # true J = 30/50 = 0.6
    df = spark.createDataFrame([(base, other)], "a array<string>, b array<string>")
    sigs = df.select(mh(F.col("a")).alias("sa"), mh(F.col("b")).alias("sb"))
    est = sigs.select(minhash_jaccard_est(F.col("sa"), F.col("sb")).alias("e")).collect()[0]["e"]
    assert est == pytest.approx(0.6, abs=0.12)


def test_minhash_deterministic_across_runs(spark):
    mh = make_minhash_udf(64)
    df = spark.createDataFrame([(["a", "b", "c"],)], "toks array<string>")
    s1 = df.select(mh(F.col("toks")).alias("s")).collect()[0]["s"]
    s2 = df.select(mh(F.col("toks")).alias("s")).collect()[0]["s"]
    assert s1 == s2


def _scored(spark):
    rows = [
        ("a", "b", 0.9),
        ("a", "c", 0.4),
        ("b", "c", 0.5),
        ("d", "a", 0.85),
    ]
    return spark.createDataFrame(rows, "conv_id_a string, conv_id_b string, score double")


def _ranked(scored, n):
    """Each record's n best neighbors, ranked (score desc, id asc) —
    the directed input ratio_test and mutual_top1 take."""
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        _directed(scored)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
    )


def test_ratio_test_keeps_clear_winners(spark):
    ranked = _ranked(_scored(spark), 10)
    kept = ratio_test(ranked, ratio=1.5)
    srcs = {r["src"]: r["dst"] for r in kept.collect()}
    # a: 0.9 vs 0.85 -> ratio 1.06 < 1.5 -> dropped
    assert "a" not in srcs
    # d: only neighbor 'a' (s2 null) -> kept
    assert srcs["d"] == "a"


def test_mutual_top1(spark):
    ranked = _ranked(_scored(spark), 1)
    best = ranked.select("src", "dst", "score")
    mutual = {(r["src"], r["dst"]) for r in mutual_top1(best).collect()}
    assert ("a", "b") in mutual and ("b", "a") in mutual
    assert ("c", "b") not in mutual  # b's best is a, not c


def test_decide_matches_delta_threshold_configs(spark):
    """D1 delta wiring (reference dynamic_entity_resolution.py:311-324
    applies ratio AND/OR delta): delta-only and ratio+delta configs
    must be expressible through ScoringConfig/decide_matches, and the
    default delta=0.0 must be a no-op."""
    from energy_aware_entity_resolution_spark.config import (
        PipelineConfig,
        ScoringConfig,
    )
    from energy_aware_entity_resolution_spark.operators.decision import (
        decide_matches,
    )

    rows = [
        ("a", "b", 0.90),  # a's best; runner-up 0.80 -> gap 0.10
        ("a", "c", 0.80),
        ("b", "c", 0.80),  # gives b a runner-up too (gap 0.10)
        ("d", "e", 0.90),  # d's best; runner-up 0.50 -> gap 0.40
        ("d", "f", 0.50),
    ]
    scored = spark.createDataFrame(
        rows, "conv_id_a string, conv_id_b string, score double"
    )

    def pairs(cfg):
        return {
            (r["conv_id_a"], r["conv_id_b"])
            for r in decide_matches(scored, PipelineConfig(scoring=cfg)).collect()
        }

    base = ScoringConfig(match_threshold=0.7, direct_threshold=2.0)
    # delta-only: gap >= 0.25 keeps (d,e), drops (a,b)
    delta_only = pairs(
        ScoringConfig(
            match_threshold=0.7, direct_threshold=2.0, delta_threshold=0.25
        )
    )
    assert ("d", "e") in delta_only and ("a", "b") not in delta_only
    # ratio+delta: ratio 1.05 alone keeps both best edges (0.9/0.8 =
    # 1.125, 0.9/0.5 = 1.8); adding delta 0.25 prunes (a,b) only
    both = pairs(
        ScoringConfig(
            match_threshold=0.7,
            direct_threshold=2.0,
            ratio_threshold=1.05,
            delta_threshold=0.25,
        )
    )
    assert ("d", "e") in both and ("a", "b") not in both
    ratio_only = pairs(
        ScoringConfig(
            match_threshold=0.7, direct_threshold=2.0, ratio_threshold=1.05
        )
    )
    assert ("a", "b") in ratio_only and ("d", "e") in ratio_only
    # default delta=0.0 is a no-op
    assert pairs(base) == pairs(
        ScoringConfig(
            match_threshold=0.7, direct_threshold=2.0, delta_threshold=0.0
        )
    )


def test_delta_threshold_forces_global_incremental_mode():
    from energy_aware_entity_resolution_spark.config import (
        PipelineConfig,
        ScoringConfig,
    )
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        _is_global_mode,
    )

    assert not _is_global_mode(PipelineConfig())
    assert _is_global_mode(
        PipelineConfig(scoring=ScoringConfig(delta_threshold=0.1))
    )
