"""Golden end-to-end test: the north_rule F1 >= 0.99 gate on labeled
pairs at shared blocking keys (BASELINE.json), plus exact-duplicate
cluster semantics (identical token signature ⇔ same component)."""

from __future__ import annotations

from pyspark.sql import functions as F

from energy_aware_entity_resolution_spark.config import PipelineConfig
from energy_aware_entity_resolution_spark.operators.clustering import cluster_pairs
from energy_aware_entity_resolution_spark.operators.evaluation import (
    evaluation_grid,
    pairwise_metrics,
)
from energy_aware_entity_resolution_spark.plans import run_pipeline


def test_pipeline_f1_gate(spark, transcripts, labeled_pairs):
    res = run_pipeline(transcripts, PipelineConfig())
    cp = cluster_pairs(res.clusters)
    m = pairwise_metrics(cp, labeled_pairs)
    assert m["f1"] >= 0.99, m
    assert m["recall"] == 1.0, m


def test_exact_dups_share_component(spark, transcripts):
    res = run_pipeline(transcripts, PipelineConfig())
    comp = {r["conv_id"]: r["component_id"] for r in res.clusters.collect()}
    for g in range(20):
        a, b, c = (f"conv_{g * 10 + s:08d}" for s in (0, 1, 2))
        assert comp[a] == comp[b] == comp[c], (a, b, c)
        d, e = (f"conv_{g * 10 + s:08d}" for s in (3, 4))
        assert comp[d] == comp[e]
        # background conversations stay singletons
        for s in range(5, 10):
            u = f"conv_{g * 10 + s:08d}"
            assert comp[u] == u


def test_match_scores_bounded_and_exact_is_one(spark, transcripts):
    res = run_pipeline(transcripts, PipelineConfig())
    bad = res.scored.where((F.col("score") < 0) | (F.col("score") > 1.0001))
    assert bad.count() == 0
    exact_ones = res.scored.where(F.col("exact") & (F.col("score") < 1.0))
    assert exact_ones.count() == 0


def test_evaluation_grid_reproduces_hand_computed_cell(spark):
    scored = spark.createDataFrame(
        [("a", "b", 0.9), ("a", "c", 0.6), ("b", "d", 0.4)],
        "conv_id_a string, conv_id_b string, score double",
    )
    truth = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "conv_id_a string, conv_id_b string"
    )
    grid = evaluation_grid(scored, truth, thresholds=[0.5], ks=[10])
    row = grid.where((F.col("seuil") == 0.5) & (F.col("k") == 10)).collect()[0]
    # predicted at 0.5: (a,b), (a,c) -> tp=1 fp=1 fn=1
    assert (row["tp"], row["fp"], row["fn"]) == (1, 1, 1)
    assert row["f1"] == 0.5


def test_stage_metrics_record_cpu_proxy(spark, transcripts):
    from energy_aware_entity_resolution_spark.config import PipelineConfig

    res = run_pipeline(transcripts, PipelineConfig())
    df = res.metrics.to_df(spark)
    assert set(df.columns) == {
        "run_id", "stage", "wall_ms", "cpu_s", "energy_j", "rows"
    }
    rows = {r["stage"]: r for r in df.collect()}
    feat = rows["featurize"]
    assert feat["cpu_s"] is None or feat["cpu_s"] >= 0
    if feat["cpu_s"] is not None:  # modeled energy = cpu_s x watts const
        from energy_aware_entity_resolution_spark.operators.audit import (
            CPU_WATTS_PER_CORE,
        )

        assert abs(feat["energy_j"] - feat["cpu_s"] * CPU_WATTS_PER_CORE) < 1e-9


def test_pipeline_checkpoint_dir_writes_resumable_state(spark, transcripts, tmp_path):
    """north_rule: candidate-pair + component state checkpointed; a
    rerun reads identical stage tables."""
    import dataclasses
    import os

    cfg = dataclasses.replace(PipelineConfig(), checkpoint_dir=str(tmp_path / "ck"))
    res = run_pipeline(transcripts, cfg)
    for name in ("features", "candidate_pairs", "scored_pairs", "matches",
                 "clusters", "audit", "lineage"):
        assert os.path.exists(tmp_path / "ck" / name / "_SUCCESS"), name
    # CC iteration state exists for resume
    cc_dirs = [d for d in os.listdir(tmp_path / "ck" / "cc") if d.startswith("cc_iter_")]
    assert cc_dirs
    # stage tables reload with identical content
    again = spark.read.parquet(str(tmp_path / "ck" / "clusters"))
    assert again.exceptAll(res.clusters).count() == 0


def test_audit_match_state_schema(spark, transcripts):
    res = run_pipeline(transcripts, PipelineConfig())
    cols = set(res.audit.columns)
    assert {"pair_key", "ts", "score", "stage", "decision", "transaction", "active", "run_id"} <= cols
