"""Config round-trip and session defaults — no JVM is started here."""

from __future__ import annotations

import json
import os

import pytest

from energy_aware_entity_resolution_spark import session
from energy_aware_entity_resolution_spark.config import (
    BlockingConfig,
    ClusterConfig,
    PipelineConfig,
    ScoringConfig,
)


def test_pipeline_config_json_round_trip():
    cfg = PipelineConfig(
        blocking=BlockingConfig(oversize_policy="salt", portable=True),
        scoring=ScoringConfig(ratio_threshold=1.05, mutual_only=True),
        cluster=ClusterConfig(max_iterations=7),
        run_id="r1",
        checkpoint_dir="/data/ckpt",
        audit_enabled=False,
        batch_shuffle_partitions=0,
    )
    assert PipelineConfig.from_json(cfg.to_json()) == cfg
    assert PipelineConfig.from_json(PipelineConfig().to_json()) == PipelineConfig()
    # a removed field is an error, not silently ignored
    d = json.loads(PipelineConfig().to_json())
    d["scoring"]["top_k"] = 10
    with pytest.raises(TypeError):
        PipelineConfig.from_json(json.dumps(d))


@pytest.mark.parametrize(
    "phys_gib, want",
    [(2, "1024m"), (16, "4096m"), (64, "16384m"), (512, "49152m")],
)
def test_default_driver_memory_follows_physical_memory(monkeypatch, phys_gib, want):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert session.default_driver_memory() == want
