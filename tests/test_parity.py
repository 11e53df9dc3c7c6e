"""Parity operators (SURVEY.md §2 long-tail)."""

from __future__ import annotations

from energy_aware_entity_resolution_spark.operators.parity import (
    cross_source_filter,
    load_ground_truth_csv,
)


def test_cross_source_filter(spark):
    entities = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("b1", "B")], "conv_id string, source string"
    )
    pairs = spark.createDataFrame(
        [("a1", "a2"), ("a1", "b1"), ("a2", "b1")],
        "conv_id_a string, conv_id_b string",
    )
    got = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in cross_source_filter(pairs, entities).collect()
    }
    assert got == {("a1", "b1"), ("a2", "b1")}


def test_load_ground_truth_csv(spark, tmp_path):
    p = tmp_path / "gt.txt"
    p.write_text("idx_3,idx_7\nidx__2,idx__1\n")
    got = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in load_ground_truth_csv(spark, str(p)).collect()
    }
    assert got == {("idx__3", "idx__7"), ("idx__1", "idx__2")}
