"""Pipeline configuration.

Mirrors the reference's YAML config surface (reference
config/default/default-batch.yaml, utils/utils.py:78-111 validation)
minus the graph/walk sections (no random walks in the Spark design —
SURVEY.md §2.11) plus explicit blocking/scoring/clustering sections.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class BlockingConfig:
    """Candidate-generation knobs.

    minhash_k/bands/rows: k = bands*rows signature; the LSH S-curve
    threshold is ~(1/bands)^(1/rows) (32/4 → ~0.42, recall-oriented).
    max_block_size: hot-block cap (reference hub cap analog,
    dynamic_entity_resolution.py:283-289) applied to LSH buckets before
    pair explosion — a bucket larger than this is boilerplate, not
    signal, and would explode quadratically.
    """

    minhash_k: int = 128
    minhash_bands: int = 32
    minhash_rows: int = 4
    max_block_size: int = 50
    # what to do with LSH blocks larger than max_block_size:
    # 'drop' — reference hub-cap semantics (boilerplate blocks are
    #          noise; pairs inside them are lost) — the default;
    # 'salt' — keep them, generating their pairs via a deterministic
    #          salted self-join so one hot block becomes ~s²/2 balanced
    #          tasks instead of a straggler (recall-preserving).
    oversize_policy: str = "drop"
    salt_buckets: int = 8
    sorted_neighborhood_window: int = 4
    use_sorted_neighborhood: bool = True
    # tokens appearing in > this fraction of conversations are corpus
    # boilerplate: dropped from minhash/embedding/jaccard features (the
    # reference's IDF / rare-node bias plays this role,
    # dynamic_graph.py:377-391). Exact-match signatures keep ALL tokens.
    df_stopword_ratio: float = 0.3
    # portable=True swaps the hash family (blake2b/xxhash64 -> the
    # md5-60bit portable family) so EVERY stage of the pipeline is
    # bit-reproducible by an ANSI-SQL oracle (the correctness gate runs
    # the flagship pipeline under this flag and DuckDB recomputes it
    # end-to-end, decisions and clusters included). Same operators,
    # same plan shapes, same config semantics — only the hash family
    # and the (unnormalized, integer-valued) embedding differ. The
    # production default keeps the faster JVM/Arrow hashes.
    portable: bool = False


@dataclass(frozen=True)
class ScoringConfig:
    """Pairwise scorer blend + decision thresholds.

    Reference analogs: cosine was the only pipeline-1 score
    (dynamic_entity_resolution.py:191); formula_comparison.py:8-54 has
    levenshtein/jaccard. We blend token-Jaccard (JVM), Levenshtein
    ratio (JVM built-in), and pooled-embedding cosine.
    """

    w_jaccard: float = 0.5
    w_levenshtein: float = 0.25
    w_cosine: float = 0.25
    levenshtein_cap: int = 512
    embedding_dim: int = 64
    match_threshold: float = 0.72
    direct_threshold: float = 0.95  # D2: bypasses ratio test (ref: 0.95)
    ratio_threshold: float = 1.0  # D1: s1/s2 >= ratio (1.0 = disabled)
    # D1 delta test: s1 - s2 >= delta, applied ALONGSIDE the ratio on
    # a record's best edge (reference applies ratio AND/OR delta,
    # dynamic_entity_resolution.py:311-324; 0.0 = disabled — rank-1
    # always has s1 >= s2, so the default is a no-op)
    delta_threshold: float = 0.0
    mutual_only: bool = False  # D3 strict reciprocal-NN


@dataclass(frozen=True)
class ClusterConfig:
    max_iterations: int = 25


@dataclass(frozen=True)
class PipelineConfig:
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    scoring: ScoringConfig = field(default_factory=ScoringConfig)
    cluster: ClusterConfig = field(default_factory=ClusterConfig)
    run_id: str = "run0"
    checkpoint_dir: str | None = None  # parquet state root (resume)
    audit_enabled: bool = True
    # Incremental mode only: shuffle-partition count applied for the
    # duration of each micro-batch (restored after). A batch-sized
    # shuffle at the cluster-wide default (200 on a real cluster, 32
    # here) pays fixed per-partition scheduling + shuffle-file cost
    # that AQE coalescing does not remove — measured 10-20% of the
    # per-batch floor at 2k-conversation batches (BASELINE.md).
    # None (default) = DERIVE per batch from the feature-count ledger:
    # clamp(prev_batch_rows/4096, 8, session default) — the measured
    # capstone configuration without hand-tuning (process_one_batch).
    # 0 = leave the session setting alone; explicit N = fixed override.
    # Caveat: the setting is session-scoped while applied, so don't
    # run concurrent non-batch queries on the same session mid-batch.
    batch_shuffle_partitions: int | None = None

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "PipelineConfig":
        d = json.loads(s)
        return PipelineConfig(
            blocking=BlockingConfig(**d.get("blocking", {})),
            scoring=ScoringConfig(**d.get("scoring", {})),
            cluster=ClusterConfig(**d.get("cluster", {})),
            run_id=d.get("run_id", "run0"),
            checkpoint_dir=d.get("checkpoint_dir"),
            audit_enabled=d.get("audit_enabled", True),
            batch_shuffle_partitions=d.get("batch_shuffle_partitions"),
        )
