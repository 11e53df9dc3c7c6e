"""Incremental / micro-batched ER (SURVEY.md §2.10 W1/W4, C4).

The reference consumes Kafka in count windows (window_count records,
kafkaconsumer.py:511-524), matches each window against accumulated
state (exact-match inc, `_em_inc` kafkaconsumer.py:549-620), refits the
index incrementally and re-emits per-round similarity snapshots.

Structured Streaming has no count-based windows, so (SURVEY.md §7.3)
this module keeps the semantics as a deterministic chunked batch loop
over the same stage functions. State is APPEND-ONLY — per-batch cost is
proportional to the BATCH, never to the accumulated state:

- ``features/batch=N``   new conversations' features (delta, written
  once; per-batch row counts in ``feat_counts/N``). Every
  _CLUSTER_COMPACT_EVERY-th batch folds the tree into
  ``features_compact/batch=N`` so accumulated reads touch one snapshot
  + ≤K delta dirs instead of every batch dir ever written — at
  micro-batch cadence the growing tree's file-open overhead was the
  measured residual linear term (BASELINE.md round-5 curve)
- ``scored_rounds/round=N``  per-round scored-pair snapshot (W5);
  global mode also records each round's row count
  (``round_counts/N``) so the adaptive decide gate sums a file ledger
  instead of count-scanning the accumulated tree every batch, and
  folds the tree into ``scored_compact/round=N`` at the compaction
  cadence (the global re-decision reads the whole accumulated scored
  state every batch — the fold keeps that read's file count bounded;
  per-round deltas stay for W5/timeseries readers)
- ``matches/batch=N``    match DELTAS (new×new ∪ new×state pairs only —
  old×old pairs were decided in earlier rounds and never re-explored,
  so a pair appears in exactly one batch)
- ``remaps/batch=N``     incremental-CC merge records (old_root →
  new_root), the C4 component state. Each batch maps its new match
  edges onto current component roots, runs connected components on the
  REDUCED component graph (bounded by the batch's match count), and
  appends only the roots that changed. Cluster reads resolve the remap
  chain: a row/byte-guarded driver fast path (same guards as the CC
  fast path) for small chains, else distributed pointer-jumping
  self-joins — the chain NEVER collects to the driver above the guard,
  so a dup-heavy 100 TB corpus cannot OOM it.

A terminal ``done/_DONE_N`` marker commits each batch; a killed run
resumes from the last complete batch, every per-batch write targets a
deterministic partition path with overwrite, so replays are idempotent
and converge to the same final clusters as a single-shot batch run
(tested in tests/test_incremental.py).

Decision semantics by config (W4):

- threshold-style configs (the defaults: ratio_threshold=1.0,
  mutual_only=False) — decisions are per-pair, so the per-batch
  decision over that batch's scored delta IS the batch-mode decision;
  matches are pure append-only deltas and the component state is the
  merge-only remap ledger above.
- GLOBAL configs (ratio test enabled or mutual_only) — a record's
  decision reads its FULL neighborhood, so new scored pairs can flip
  decisions of EXISTING pairs. The re-decision is bounded to the
  AFFECTED NEIGHBORHOOD, not the whole accumulated state: a pair's
  decision is a function of its own score plus each endpoint's
  directed (rank-1 / runner-up) view, and a directed view depends only
  on that record's neighborhood — so only pairs incident to an
  endpoint of this batch's new scored pairs (the ``affected`` set) can
  change. Deciding those pairs needs the full neighborhoods of both
  endpoints, i.e. the one-hop closure: re-run decide_matches over
  pairs incident to (affected ∪ neighbors(affected)), then keep only
  the decisions for pairs incident to ``affected`` and diff them
  against the previous match set restricted to the same pair set.
  ADAPTIVE (measured crossover): while the accumulated tree is small
  relative to the batch (≤ _FULL_REDECIDE_MAX_RATIO ×), a single
  decide_matches window over the whole tree is cheaper than the
  restriction machinery and runs instead — identical output, fewer
  barriers. Above it, the neighborhood path broadcasts its node sets
  (guarded by _BROADCAST_NODES_MAX) so the accumulated tree is only
  ever SCANNED map-side (columnar, 3 columns), never shuffled; the
  re-decision window then shuffles only the closure region —
  per-round decision COMPUTE O(batch × avg-degree²) instead of
  O(accumulated). Because a record's best
  neighbor is monotone in (score desc, id asc) and s2 only grows as
  neighborhoods fill in, a pair's decision can flip MATCH→non-match
  over time but never back, so the delta state is ``matches/batch=N``
  (adds) plus ``revoked/batch=N`` (at most one revoke per pair,
  always after its add) and the current match set is adds ⟕-anti
  revokes.

  Clustering in this mode (merge-only remaps can't express
  revocation) maintains a ``clusters/batch=N`` DELTA ledger: each
  batch recomputes connected components only over the components
  TOUCHED by its adds/revokes (prev components of their endpoints,
  closed under membership — current match edges never cross an
  untouched prev-component boundary, because a surviving edge's
  endpoints shared a prev component and an added edge's endpoints are
  touched by definition) and appends the region's new assignments;
  the current clustering is, per conv_id, the latest batch's
  assignment, with never-assigned ids as singletons. Untouched
  components keep their exact member set and internal edges, so their
  min-member component_id is unchanged and the merged view equals a
  full CC recompute (tested against the single-shot batch run).
  Every _CLUSTER_COMPACT_EVERY-th batch COMPACTS the ledger (folds
  the full current assignment into its partition + marker), so
  latest-wins reads prune to [last compaction, now] instead of
  scanning every delta ever written — amortized O(N/K) extra rows per
  batch, and a thousands-of-micro-batches stream keeps O(K deltas +
  one snapshot) read cost (pruning proven by a delete-the-old-
  partitions test).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from energy_aware_entity_resolution_spark.config import PipelineConfig
from energy_aware_entity_resolution_spark.operators.assemble import (
    assemble_conversations,
)
from energy_aware_entity_resolution_spark.operators.blocking import (
    cap_blocks,
    featurize,
    lsh_bands,
)
from energy_aware_entity_resolution_spark.operators.clustering import (
    connected_components,
)
from energy_aware_entity_resolution_spark.operators.decision import decide_matches
from energy_aware_entity_resolution_spark.operators.scoring import score_pairs
from energy_aware_entity_resolution_spark.plans.pipeline import _release_upstream

_FEATURE_COLS = [
    "conv_id", "sig", "sig_hash", "bitmask", "rare_tokens", "rare_sig",
    "sn_key", "minhash", "vec", "tokens", "cleaned", "doc", "n_turns",
]


def _done(state_dir: str, b: int) -> str:
    return os.path.join(state_dir, "done", f"_DONE_{b:04d}")


def _content_done(state_dir: str, marker: str) -> str:
    """Content-NAMED twin of a done marker: the replay guard resolves
    ``md5(marker)`` to a filename, so the positive lookup is one
    os.path.exists instead of opening every ``_DONE_N`` file
    (O(batches²) over a stream's life at micro-batch cadence —
    VERDICT r05 #3/#5)."""
    import hashlib

    return os.path.join(
        state_dir,
        "done",
        "_DONE_C_" + hashlib.md5(marker.encode()).hexdigest(),
    )


def _parquet_rows(path: str) -> int | None:
    """Exact row count of a just-written parquet dir from its footers —
    a driver-side metadata read, not a Spark job. The micro-batch floor
    is ~20 jobs/batch of fixed scheduling cost (BASELINE.md); counting
    freshly written batch deltas this way removes one job per count.
    None when the dir is unreadable (caller falls back to .count())."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return None
    total = 0
    try:
        names = os.listdir(path)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return None  # uncommitted write: don't trust the footers
        for name in names:
            if name.endswith(".parquet"):
                total += pq.ParquetFile(
                    os.path.join(path, name)
                ).metadata.num_rows
    except OSError:
        return None
    return total


def last_complete_batch(state_dir: str) -> int:
    best = -1
    done_dir = os.path.join(state_dir, "done")
    if os.path.isdir(done_dir):
        for name in os.listdir(done_dir):
            # skip content-named twins (_DONE_C_<md5>) and flags —
            # only numeric batch markers carry the batch id
            if name.startswith("_DONE_") and not name.startswith("_DONE_C_"):
                best = max(best, int(name.rsplit("_", 1)[1]))
    return best


def _incremental_candidates(
    feats_new: DataFrame,
    all_feats: DataFrame,
    cfg: PipelineConfig,
    n_new: int | None = None,
) -> DataFrame:
    """Stream-static candidate generation (J4): NEW records join
    against the full state on the blocking keys — old×old pairs were
    decided in earlier rounds and are never re-explored.

    Exact: (bitmask, sig_hash) equi-join with signature guard.
    LSH: new band keys × all band keys, capped on the state side.
    (Sorted-neighborhood is a global-order construct and is skipped in
    incremental mode — LSH+exact carry recall; documented deviation.)

    STATE-SIDE RESTRICTION (the round-4 global-decide lesson applied
    to candidates): when the batch is provably small (n_new — one
    cheap count of the batch parquet), the batch's join-key sets
    BROADCAST and the accumulated state is semi-FILTERED map-side
    before any exchange — without this, both the exact join and the
    cap_blocks count aggregate SHUFFLED the whole accumulated side
    every batch (measured: score phase 2.1 s → 8.6 s over 80
    2k-conversation micro-batches; see BASELINE.md). The restriction
    is exact: a state row whose key matches no new key can join
    nothing, and cap counts of surviving keys see all their rows, so
    the capped-join output is IDENTICAL. Batches too large to certify
    (or n_new=None from direct callers) keep the unrestricted
    broadcast-free shape — a batch that large dominates the join
    anyway, and a SHUFFLE semi-join would move the state more times
    than the plain join does (the measured round-4 negative)."""
    new_keys = feats_new.select("conv_id", "bitmask", "sig_hash", "sig")
    all_keys = all_feats.select(
        F.col("conv_id").alias("conv_id_s"),
        "bitmask",
        "sig_hash",
        F.col("sig").alias("sig_s"),
    )
    bands_new_raw = lsh_bands(feats_new, cfg)
    bands_state = lsh_bands(all_feats, cfg)
    bands = cfg.blocking.minhash_bands
    if n_new is not None and n_new * bands <= _BROADCAST_NODES_MAX:
        all_keys = all_keys.join(
            F.broadcast(new_keys.select("bitmask", "sig_hash").distinct()),
            ["bitmask", "sig_hash"],
            "left_semi",
        )
        bands_state = bands_state.join(
            F.broadcast(
                bands_new_raw.select("band_id", "band_hash").distinct()
            ),
            ["band_id", "band_hash"],
            "left_semi",
        )
    exact = (
        new_keys.join(all_keys, ["bitmask", "sig_hash"])
        .where(F.col("conv_id") != F.col("conv_id_s"))
        .where(F.col("sig") == F.col("sig_s"))
        .select(
            F.least("conv_id", "conv_id_s").alias("conv_id_a"),
            F.greatest("conv_id", "conv_id_s").alias("conv_id_b"),
        )
    )
    bands_all = cap_blocks(
        bands_state, ["band_id", "band_hash"], cfg.blocking.max_block_size
    )
    bands_new = bands_new_raw.withColumnRenamed("conv_id", "conv_id_n")
    lsh = (
        bands_new.join(bands_all, ["band_id", "band_hash"])
        .where(F.col("conv_id_n") != F.col("conv_id"))
        .select(
            F.least("conv_id_n", "conv_id").alias("conv_id_a"),
            F.greatest("conv_id_n", "conv_id").alias("conv_id_b"),
        )
    )
    return (
        exact.unionByName(lsh)
        .dropDuplicates(["conv_id_a", "conv_id_b"])
        .withColumn("sources", F.array(F.lit("inc")))
    )


# ------------------------------------------------------- component state
# Driver fast-path guards for remap resolution — same adaptivity
# principle (and thresholds) as clustering.connected_components: below
# them, collect + dict path-compression beats a distributed loop; above
# them the driver MUST NOT hold the chain (batch-0 CC emits one remap
# row per matched non-root member, so a dup-heavy corpus makes the
# accumulated remap O(matched records), a driver OOM by design).
_REMAP_DRIVER_MAX_ROWS = 200_000
_REMAP_DRIVER_MAX_BYTES = 64 * 1024 * 1024


def _collapse_remaps(rows: list) -> dict[str, str]:
    """Path-compress accumulated (old_root, new_root) merge records
    into a flat node -> final-root dict. Chain depth grows at most one
    per batch; compression makes reads O(entries)."""
    parent: dict[str, str] = {r["old_root"]: r["new_root"] for r in rows}

    def find(x: str) -> str:
        seen = []
        while x in parent and parent[x] != x:
            seen.append(x)
            x = parent[x]
        for s in seen:
            parent[s] = x
        return x

    return {k: find(k) for k in list(parent)}


def _resolve_remaps_distributed(remap: DataFrame) -> DataFrame:
    """Pointer-jumping path compression as DataFrame self-joins.

    The accumulated remap is a forest (an old_root is demoted exactly
    once — later batches key their merges by CURRENT roots), and chain
    depth grows at most one per batch. Each iteration substitutes
    new_root := remap(new_root) where defined, DOUBLING the resolved
    depth, so ceil(log2(n_batches)) rounds reach the fixpoint — the
    reference's propagation (kafkaconsumer.py:549-620) without any
    driver-side state. Lineage is truncated per round; the loop stops
    on the first round where no row advances."""
    resolved = remap.localCheckpoint(eager=True)
    for _ in range(40):  # depth 2^40 is unreachable (one merge/batch)
        nxt = resolved.selectExpr("old_root as _k", "new_root as _v")
        step = (
            resolved.join(nxt, resolved["new_root"] == nxt["_k"], "left")
            .select(
                "old_root",
                F.coalesce("_v", "new_root").alias("new_root"),
                F.col("_k").isNotNull().alias("_hopped"),
            )
            .localCheckpoint(eager=True)
        )
        advanced = step.where("_hopped").limit(1).count()
        resolved = step.drop("_hopped")
        if advanced == 0:
            break
    return resolved


def _read_remap_df(
    spark: SparkSession, state_dir: str, upto_batch: int
) -> tuple[DataFrame | None, bool]:
    """(collapsed remap table from batches < upto_batch, is_small).

    is_small=True means the table came from the guarded driver fast
    path and is safely broadcastable; False means it was resolved
    distributively and joins against it must shuffle, not broadcast.
    """
    path = os.path.join(state_dir, "remaps")
    if not os.path.isdir(path) or not any(
        n.startswith("batch=") and int(n.split("=")[1]) < upto_batch
        for n in os.listdir(path)
    ):
        return None, True
    remap = (
        spark.read.parquet(path)
        .where(F.col("batch") < upto_batch)
        .select("old_root", "new_root")
    )
    # one action decides the path AND supplies the fast path's input
    sample = remap.limit(_REMAP_DRIVER_MAX_ROWS + 1).collect()
    if len(sample) <= _REMAP_DRIVER_MAX_ROWS:
        if not sample:
            return None, True
        probe = sample[:1000]
        avg_bytes = sum(
            len(str(r["old_root"])) + len(str(r["new_root"])) for r in probe
        ) / len(probe)
        if avg_bytes * len(sample) <= _REMAP_DRIVER_MAX_BYTES:
            collapsed = _collapse_remaps(sample)
            if not collapsed:
                return None, True
            return (
                spark.createDataFrame(
                    list(collapsed.items()), "old_root string, new_root string"
                ),
                True,
            )
    del sample
    return _resolve_remaps_distributed(remap), False


def _merge_step(
    spark: SparkSession,
    new_matches: DataFrame,
    state_dir: str,
    b: int,
    cfg: PipelineConfig,
) -> None:
    """Incremental connected components (C4): resolve the batch's match
    edges to their CURRENT component roots (broadcast remap join), run
    CC on the reduced component graph — bounded by this batch's match
    count, independent of total state — and append only the changed
    roots as remap records."""
    edges = new_matches.select(
        F.col("conv_id_a").alias("u"), F.col("conv_id_b").alias("v")
    )
    remap, small = _read_remap_df(spark, state_dir, b)
    if remap is not None:
        ru = remap.select(
            F.col("old_root").alias("u"), F.col("new_root").alias("ru")
        )
        rv = remap.select(
            F.col("old_root").alias("v"), F.col("new_root").alias("rv")
        )
        if small:  # guarded driver path ⇒ broadcastable by construction
            ru, rv = F.broadcast(ru), F.broadcast(rv)
        edges = (
            edges.join(ru, "u", "left")
            .join(rv, "v", "left")
            .select(
                F.coalesce("ru", F.col("u")).alias("u"),
                F.coalesce("rv", F.col("v")).alias("v"),
            )
        )
    reduced = (
        edges.where(F.col("u") != F.col("v"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .distinct()
    )
    comp = connected_components(reduced, max_iterations=cfg.cluster.max_iterations)
    new_remaps = comp.where(F.col("conv_id") != F.col("component_id")).select(
        F.col("conv_id").alias("old_root"),
        F.col("component_id").alias("new_root"),
    )
    new_remaps.write.mode("overwrite").parquet(
        os.path.join(state_dir, "remaps", f"batch={b}")
    )


def resolve_clusters(spark: SparkSession, state_dir: str) -> DataFrame:
    """(conv_id, component_id) for every conversation seen so far:
    feature ids ⟕ path-compressed remap chain (broadcast only when the
    guarded driver path certified the chain small).

    Global-decision state (a ``revoked`` dir exists) carries no remap
    ledger — merge-only remaps can't express revocation — so clusters
    read the per-batch ``clusters`` DELTA ledger instead (latest
    assignment per conv_id; see _cluster_delta_step). Legacy global
    state without that ledger falls back to a full CC recompute over
    the current match set.

    Every read is bounded to COMMITTED batches (done marker written):
    a crashed or concurrently-running batch's partial files — features
    without matches, adds without revokes, remaps without the marker —
    are never visible."""
    last = last_complete_batch(state_dir)
    all_ids = accumulated_features(spark, state_dir, last).select("conv_id")
    rev_path = os.path.join(state_dir, "revoked")
    if os.path.isdir(rev_path):
        if os.path.isdir(os.path.join(state_dir, "clusters")):
            assign = _cluster_assignments(spark, state_dir, last)
            return all_ids.join(assign, "conv_id", "left").select(
                "conv_id",
                F.coalesce("component_id", F.col("conv_id")).alias(
                    "component_id"
                ),
            )
        edges = accumulated_matches(spark, state_dir, upto_batch=last).select(
            F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
        )
        comp = connected_components(edges)
        return all_ids.join(comp, "conv_id", "left").select(
            "conv_id",
            F.coalesce("component_id", F.col("conv_id")).alias("component_id"),
        )
    remap, small = _read_remap_df(spark, state_dir, last + 1)
    if remap is None:
        return all_ids.select(
            "conv_id", F.col("conv_id").alias("component_id")
        )
    keyed = remap.withColumnRenamed("old_root", "conv_id")
    if small:
        keyed = F.broadcast(keyed)
    return all_ids.join(keyed, "conv_id", "left").select(
        "conv_id", F.coalesce("new_root", F.col("conv_id")).alias("component_id")
    )


def _is_global_mode(cfg: PipelineConfig) -> bool:
    """True when decisions read full neighborhoods (module docstring).
    The delta test reads the runner-up like the ratio test does, so it
    forces global re-decision semantics too."""
    return (
        cfg.scoring.ratio_threshold != 1.0
        or cfg.scoring.mutual_only
        or cfg.scoring.delta_threshold > 0.0
    )


def _endpoints(pairs: DataFrame) -> DataFrame:
    """Distinct conv_ids appearing on either side of the pair table."""
    return pairs.select(
        F.explode(F.array("conv_id_a", "conv_id_b")).alias("conv_id")
    ).distinct()


# Adaptive thresholds for the global-mode re-decision (measured at 240k
# convs / 4 batches, this VM):
# - below _FULL_REDECIDE_MAX_RATIO × batch-delta rows of accumulated
#   scored state, ONE decide_matches window over the whole tree beats
#   the neighborhood machinery — the restriction's semi-joins would
#   shuffle the same accumulated rows MORE times than the single
#   window does (measured 91 s vs 32 s per batch).
# - the neighborhood path only pays off when its node sets broadcast
#   (map-side semi filters — the accumulated tree is scanned, never
#   shuffled); _BROADCAST_NODES_MAX caps the driver/executor memory a
#   broadcast node set may take (~40 MB of ids at 2M rows). A batch
#   whose closure exceeds it falls back to shuffle semi-joins, which
#   are still O(acc shuffle) — but a batch that large means acc/batch
#   is small, which the ratio gate already routes to the full path.
_FULL_REDECIDE_MAX_RATIO = 8.0
_BROADCAST_NODES_MAX = 2_000_000


def _pairs_incident(
    pairs: DataFrame, nodes: DataFrame, small_nodes: bool = False
) -> DataFrame:
    """Rows of ``pairs`` with at least one endpoint in ``nodes``.

    Disjoint union of a-side hits and b-side-only hits (left_anti on
    the a-side) — the OR-semantics semi-join without a dedup shuffle
    of the pair payload. small_nodes=True (caller counted ``nodes``
    under _BROADCAST_NODES_MAX) broadcasts the node set so every
    reference is a map-side filter over a scan of ``pairs`` — the big
    side never shuffles; False keeps ordinary shuffle joins."""
    na = nodes.select(F.col("conv_id").alias("conv_id_a"))
    nb = nodes.select(F.col("conv_id").alias("conv_id_b"))
    if small_nodes:
        na, nb = F.broadcast(na), F.broadcast(nb)
    a_hit = pairs.join(na, "conv_id_a", "left_semi")
    b_only = pairs.join(nb, "conv_id_b", "left_semi").join(
        na, "conv_id_a", "left_anti"
    )
    return a_hit.unionByName(b_only)


# Cluster-ledger compaction cadence: every K-th global batch writes
# the FULL current assignment (amortized O(N/K) extra rows per batch)
# and drops a marker, so latest-wins reads prune to [last compaction,
# now] — without it, a stream of thousands of micro-batches makes
# every resolve/window read O(total deltas ever written).
_CLUSTER_COMPACT_EVERY = 16


def _last_compaction(state_dir: str, upto_batch: int) -> int:
    """Highest committed compaction batch ≤ upto_batch, or -1. Markers
    are written AFTER the compacted partition; a crash between them
    leaves the partition as an ordinary (correct, superset) delta."""
    best = -1
    d = os.path.join(state_dir, "clusters_compact")
    if os.path.isdir(d):
        for name in os.listdir(d):
            try:
                b = int(name)
            except ValueError:
                continue
            if b <= upto_batch:
                best = max(best, b)
    return best


def _cluster_tree(
    spark: SparkSession, state_dir: str, upto_batch: int
) -> DataFrame:
    """The cluster delta tree pruned to [last compaction, upto_batch]
    — the only rows latest-wins needs once a compaction batch holds
    the full assignment."""
    since = _last_compaction(state_dir, upto_batch)
    df = spark.read.parquet(os.path.join(state_dir, "clusters")).where(
        F.col("batch") <= upto_batch
    )
    if since > 0:
        df = df.where(F.col("batch") >= since)
    return df


def _cluster_assignments(
    spark: SparkSession, state_dir: str, upto_batch: int
) -> DataFrame:
    """Current (conv_id, component_id) view of the global-mode cluster
    DELTA ledger: per conv_id, the latest batch's assignment wins,
    read from the compaction-pruned tree. One columnar scan + one
    window — never a CC recompute. (resolve-time read; the per-batch
    step uses the id-restricted _latest_assignment instead so its
    window shuffles only the touched region's history)."""
    df = _cluster_tree(spark, state_dir, upto_batch)
    w = Window.partitionBy("conv_id").orderBy(F.desc("batch"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("conv_id", "component_id")
    )


def _latest_assignment(
    tree: DataFrame, ids: DataFrame, small_ids: bool
) -> DataFrame:
    """Latest-batch cluster assignment restricted to ``ids``: semi-join
    FIRST (broadcast when the caller counted ids small — the ledger
    tree is scanned map-side, not shuffled), then window only over the
    restricted rows. Restricting by conv_id keeps the latest-wins
    semantics exact: every historical row of a kept id survives the
    semi-join, so the window still sees the id's full history."""
    idc = ids.select("conv_id")
    if small_ids:
        idc = F.broadcast(idc)
    sub = tree.join(idc, "conv_id", "left_semi")
    w = Window.partitionBy("conv_id").orderBy(F.desc("batch"))
    return (
        sub.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("conv_id", "component_id")
    )


def _bootstrap_cluster_ledger(
    spark: SparkSession, state_dir: str, upto: int, cfg: PipelineConfig
) -> None:
    """Backfill the cluster DELTA ledger for a LEGACY global-mode state
    dir (written before the ledger existed): one full-CC compaction
    batch — the complete current assignment as of batch ``upto`` plus
    the compaction marker — after which delta maintenance proceeds
    normally. Without this, resuming a pre-ledger state crashes on the
    missing ``clusters`` path, and a partial backfill would treat
    historically-clustered ids as singletons when computing touched
    components. Ids not in the current match set stay out of the
    ledger and resolve as singletons — exactly the legacy full-CC
    fallback's semantics. Marker AFTER the partition write: a crash in
    between leaves a full (correct, superset) delta and the next
    resume redoes the bootstrap idempotently."""
    prev = accumulated_matches(spark, state_dir, upto_batch=upto)
    edges = prev.select(
        F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
    )
    comp = connected_components(edges, max_iterations=cfg.cluster.max_iterations)
    comp.select("conv_id", "component_id").write.mode("overwrite").parquet(
        os.path.join(state_dir, "clusters", f"batch={upto}")
    )
    d = os.path.join(state_dir, "clusters_compact")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(upto)), "w") as f:
        f.write("ok")


def _cluster_delta_step(
    spark: SparkSession, state_dir: str, b: int, cfg: PipelineConfig
) -> None:
    """Global-mode incremental clustering (module docstring): recompute
    connected components ONLY over the components touched by this
    batch's adds/revokes and append the region's assignments to the
    ``clusters/batch=N`` delta ledger. Closure argument: current match
    edges never cross an untouched prev-component boundary (surviving
    edges' endpoints shared a prev component; added edges' endpoints
    are touched), so the recomputed region is edge-closed and untouched
    components keep their exact membership and min-member id."""
    adds = spark.read.parquet(os.path.join(state_dir, "matches", f"batch={b}"))
    revoked = spark.read.parquet(
        os.path.join(state_dir, "revoked", f"batch={b}")
    )
    touched = (
        _endpoints(adds.select("conv_id_a", "conv_id_b"))
        .unionByName(_endpoints(revoked.select("conv_id_a", "conv_id_b")))
        .distinct()
        .localCheckpoint(eager=True)  # batch-sized; read by 3 branches
    )
    if b > 0 and not os.path.isdir(os.path.join(state_dir, "clusters")):
        # legacy (pre-ledger) global-mode state: backfill once, then
        # maintain deltas as usual
        _bootstrap_cluster_ledger(spark, state_dir, b - 1, cfg)
    if b > 0:
        # region = full current membership of the components touched
        # by this batch. Exactness matters: a SUPERSET that pulls in
        # ids of untouched components would include only part of those
        # components' edges and write them wrong assignments. So:
        # (1) latest assignment of the touched nodes -> touched comps;
        # (2) ids that EVER had a row in a touched comp (superset,
        #     cheap semi-join on component_id);
        # (3) their latest assignments, kept only where the CURRENT
        #     comp is touched — the exact membership.
        # Every window runs over id-restricted rows; the ledger tree
        # itself is only scanned (broadcast semis), never shuffled
        # whole.
        tree = _cluster_tree(spark, state_dir, b - 1)
        # |touched| <= 2*(adds + revokes); both dirs were just written,
        # so their parquet footers bound it without a count job
        # (VERDICT r05 #3: reuse ledger/metadata bounds to skip
        # provable-small checks). Exact count only when the bound
        # can't certify the broadcast.
        n_adds = _parquet_rows(
            os.path.join(state_dir, "matches", f"batch={b}")
        )
        n_rev = _parquet_rows(
            os.path.join(state_dir, "revoked", f"batch={b}")
        )
        if n_adds is not None and n_rev is not None:
            n_touched = 2 * (n_adds + n_rev)
            if n_touched > _BROADCAST_NODES_MAX:
                n_touched = touched.count()
        else:
            n_touched = touched.count()
        small_t = n_touched <= _BROADCAST_NODES_MAX
        t_assign = _latest_assignment(tree, touched, small_t)
        t_comps = (
            touched.join(t_assign, "conv_id", "left")
            .select(
                F.coalesce("component_id", F.col("conv_id")).alias(
                    "component_id"
                )
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # |t_comps| <= |touched| (each touched node maps to one
        # component), so small_t certifies the broadcast — no count
        tc = F.broadcast(t_comps) if small_t else t_comps
        cand_ids = (
            tree.join(tc, "component_id", "left_semi")
            .select("conv_id")
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_cand = cand_ids.count()
        small_cand = n_cand <= _BROADCAST_NODES_MAX
        members = (
            _latest_assignment(tree, cand_ids, small_cand)
            .join(tc, "component_id", "left_semi")
            .select("conv_id")
        )
        region_ids = members.unionByName(touched).distinct()
        region_ids = region_ids.localCheckpoint(eager=True)
        # region ⊆ cand ∪ touched — the bound sum replaces its count
        small_r = n_cand + n_touched <= _BROADCAST_NODES_MAX
    else:
        region_ids = touched
        small_r = region_ids.count() <= _BROADCAST_NODES_MAX
    cur = accumulated_matches(spark, state_dir, upto_batch=b)
    edges = _pairs_incident(
        cur.select("conv_id_a", "conv_id_b"), region_ids, small_r
    ).select(F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst"))
    comp = connected_components(edges, max_iterations=cfg.cluster.max_iterations)
    assign = region_ids.join(comp, "conv_id", "left").select(
        "conv_id",
        F.coalesce("component_id", F.col("conv_id")).alias("component_id"),
    )
    compact = bool(
        b > 0 and _CLUSTER_COMPACT_EVERY and b % _CLUSTER_COMPACT_EVERY == 0
    )
    if compact:
        # compaction batch: fold every still-current older assignment
        # in (region rows win), so this partition alone carries the
        # full state and readers prune to [here, now]
        older = _cluster_assignments(spark, state_dir, b - 1).join(
            region_ids, "conv_id", "left_anti"
        )
        assign = assign.unionByName(older)
    assign.write.mode("overwrite").parquet(
        os.path.join(state_dir, "clusters", f"batch={b}")
    )
    if compact:
        # marker AFTER the partition write: a crash in between leaves
        # an ordinary (correct, superset) delta with no pruning claim
        d = os.path.join(state_dir, "clusters_compact")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, str(b)), "w") as f:
            f.write("ok")


def _last_snapshot(state_dir: str, subdir: str, upto_batch: int) -> int:
    """Highest committed (``_SUCCESS`` present) snapshot batch ≤
    upto_batch under ``state_dir/subdir``, or -1. Shared by the
    matches/features/scored snapshot trees — one pruning rule, one
    crash-visibility contract."""
    best = -1
    d = os.path.join(state_dir, subdir)
    if os.path.isdir(d):
        for name in os.listdir(d):
            if "=" not in name:
                continue
            try:
                b = int(name.split("=")[1])
            except ValueError:
                continue
            if b <= upto_batch and os.path.exists(
                os.path.join(d, name, "_SUCCESS")
            ):
                best = max(best, b)
    return best


def _last_match_compaction(state_dir: str, upto_batch: int) -> int:
    """Highest committed match-set snapshot batch ≤ upto_batch, or -1."""
    return _last_snapshot(state_dir, "matches_compact", upto_batch)


def _snapshot_tree(
    spark: SparkSession,
    state_dir: str,
    delta_dir: str,
    snapshot_dir: str,
    part_col: str,
    upto: int,
    max_snapshot: int | None = None,
) -> DataFrame:
    """Append-only tree read with snapshot pruning: latest committed
    ``snapshot_dir`` fold ∪ later per-batch deltas from ``delta_dir``.

    Without the fold, every accumulated read scans O(batches ever
    written) directories — at micro-batch cadence (thousands of small
    batches) the file-open/footer overhead of the growing tree was the
    measured residual linear term in the per-batch wall (BASELINE.md,
    round-5 80-batch curve). With it, a read touches one snapshot +
    ≤ _CLUSTER_COMPACT_EVERY delta dirs: bounded files per batch.

    max_snapshot has accumulated_matches' resume semantics: the
    compaction writer rebuilding batch=b seeds from the PREVIOUS
    snapshot so a crash between the snapshot's _SUCCESS and the batch
    done marker can never make a resume read the path it is about to
    overwrite."""
    bound = upto if max_snapshot is None else min(max_snapshot, upto)
    since = _last_snapshot(state_dir, snapshot_dir, bound)
    df = (
        spark.read.parquet(os.path.join(state_dir, delta_dir))
        .where((F.col(part_col) > since) & (F.col(part_col) <= upto))
        .drop(part_col)
    )
    if since >= 0:
        df = df.unionByName(
            spark.read.parquet(
                os.path.join(state_dir, snapshot_dir, f"{part_col}={since}")
            )
        )
    return df


def accumulated_features(
    spark: SparkSession,
    state_dir: str,
    upto_batch: int,
    max_snapshot: int | None = None,
) -> DataFrame:
    """Feature state as of ``upto_batch`` (features_compact snapshot ∪
    later batch deltas — see _snapshot_tree)."""
    return _snapshot_tree(
        spark, state_dir, "features", "features_compact", "batch",
        upto_batch, max_snapshot,
    )


def _accumulated_scored(
    spark: SparkSession,
    state_dir: str,
    upto_round: int,
    max_snapshot: int | None = None,
) -> DataFrame:
    """Accumulated scored-pair state as of ``upto_round`` (global-mode
    re-decision input; scored_compact snapshot ∪ later round deltas).
    Per-round ``scored_rounds/round=N`` snapshots are never deleted —
    W5 readers and the round timeseries keep full history."""
    return _snapshot_tree(
        spark, state_dir, "scored_rounds", "scored_compact", "round",
        upto_round, max_snapshot,
    )


# Target rows per file for compaction snapshot writes: the fold is the
# one place the engine controls the state tree's file granularity, so
# size it for the scan instead of inheriting however many shuffle
# partitions the union happened to have. Two bounds: files hold at most
# _SNAPSHOT_ROWS_PER_FILE rows (tens of MB columnar — listing stays
# cheap at billions of rows), AND a snapshot big enough to matter
# spreads over >= min(parallelism, rows/_SNAPSHOT_MIN_ROWS_PER_FILE)
# files — a single-file fold made every subsequent state scan a
# one-task stage (measured +1.5-2 s/batch on the 80-batch curve).
_SNAPSHOT_ROWS_PER_FILE = 1_000_000
_SNAPSHOT_MIN_ROWS_PER_FILE = 4_096


def _snapshot_coalesce(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Coalesce a snapshot fold to a file count sized from the count
    ledger (None = legacy state without ledger records: write as-is)."""
    if n_rows is None:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    by_cap = -(-n_rows // _SNAPSHOT_ROWS_PER_FILE)
    by_par = min(par, -(-n_rows // _SNAPSHOT_MIN_ROWS_PER_FILE))
    return df.coalesce(max(1, by_cap, by_par))


def accumulated_matches(
    spark: SparkSession,
    state_dir: str,
    upto_batch: int | None = None,
    max_snapshot: int | None = None,
) -> DataFrame:
    """Current match set: union of per-batch add deltas, minus revokes
    (global-decision mode only writes revokes; a pair is added at most
    once and revoked at most once, after its add — see module
    docstring monotonicity argument).

    When a ``matches_compact`` snapshot exists (written every
    _CLUSTER_COMPACT_EVERY-th global batch alongside the cluster
    compaction), the read is snapshot ∪ later adds, anti later
    revokes — earlier deltas are already folded in, so the per-call
    scan is O(snapshot + K batches of deltas), not O(every delta ever
    written). The delta trees themselves are never deleted
    (round_evaluation_timeseries needs full history).

    upto_batch=None reads COMMITTED state only (batches with a done
    marker): a batch's adds land before its revokes, so an unbounded
    read during a crash window or a concurrent micro-batch would see
    pairs whose revocation hasn't been written yet — the same
    partial-state hazard the features reader prunes against.

    max_snapshot bounds which SNAPSHOT may seed the read (deltas still
    range over (snapshot, upto_batch]). The compaction writer needs it:
    rebuilding the batch-b snapshot after a crash that committed
    batch=b's _SUCCESS but not the done marker must NOT read the
    batch=b snapshot it is about to overwrite (Spark refuses to
    overwrite a path also being read — every resume attempt would then
    fail), so it seeds from the previous compaction instead."""
    if upto_batch is None:
        upto_batch = last_complete_batch(state_dir)
    snap_bound = (
        upto_batch if max_snapshot is None else min(max_snapshot, upto_batch)
    )
    since = _last_match_compaction(state_dir, snap_bound)
    m = (
        spark.read.parquet(os.path.join(state_dir, "matches"))
        .where((F.col("batch") > since) & (F.col("batch") <= upto_batch))
        .drop("batch")
    )
    if since >= 0:
        snap = spark.read.parquet(
            os.path.join(state_dir, "matches_compact", f"batch={since}")
        )
        m = m.unionByName(snap)
    rev_path = os.path.join(state_dir, "revoked")
    if os.path.isdir(rev_path) and any(
        n.startswith("batch=") for n in os.listdir(rev_path)
    ):
        rev = spark.read.parquet(rev_path).where(
            (F.col("batch") > since) & (F.col("batch") <= upto_batch)
        )
        m = m.join(
            rev.select("conv_id_a", "conv_id_b"),
            ["conv_id_a", "conv_id_b"],
            "left_anti",
        )
    return m


def round_evaluation_timeseries(
    spark: SparkSession, state_dir: str, truth_pairs: DataFrame
) -> DataFrame:
    """Per-round match quality over the incremental run — the
    reference's streaming evaluation re-expressed (its
    evaluation_timeseires.py:194-252 re-reads each round's similarity
    snapshot and reports P/R/F1 per window).

    Match state "as of round r" = add deltas with batch <= r MINUS
    revokes with batch <= r (global-decision mode; a pair is added and
    revoked at most once each, so the membership interval is
    [add_batch, rev_batch)). One pass: left-join each match to its
    revoke batch, cross with the round list (tiny, broadcast), keep
    add_batch <= round < coalesce(rev_batch, ∞), aggregate per round
    against the ground truth.

    Output: (round, tp, fp, fn, precision, recall, f1) — one row per
    completed batch. Monotone in matched pairs for threshold-mode
    state (deltas only accrue); global-mode revocations can lower
    counts between rounds, faithfully.
    """
    last = last_complete_batch(state_dir)
    matches = (
        spark.read.parquet(os.path.join(state_dir, "matches"))
        .where(F.col("batch") <= last)
        .select("conv_id_a", "conv_id_b", "batch")
    )
    rev_path = os.path.join(state_dir, "revoked")
    if os.path.isdir(rev_path) and any(
        n.startswith("batch=") for n in os.listdir(rev_path)
    ):
        rev = (
            spark.read.parquet(rev_path)
            .where(F.col("batch") <= last)
            .select(
                "conv_id_a", "conv_id_b", F.col("batch").alias("rev_batch")
            )
        )
        matches = matches.join(rev, ["conv_id_a", "conv_id_b"], "left")
    else:
        matches = matches.withColumn("rev_batch", F.lit(None).cast("int"))
    rounds = spark.range(0, last + 1).select(F.col("id").cast("int").alias("round"))
    truth = truth_pairs.select("conv_id_a", "conv_id_b").withColumn(
        "is_true", F.lit(1)
    )
    labeled = matches.join(truth, ["conv_id_a", "conv_id_b"], "left").select(
        "batch", "rev_batch", F.coalesce("is_true", F.lit(0)).alias("is_true")
    )
    per_round = (
        labeled.crossJoin(F.broadcast(rounds))
        .where(
            (F.col("batch") <= F.col("round"))
            & (F.col("rev_batch").isNull() | (F.col("round") < F.col("rev_batch")))
        )
        .groupBy("round")
        .agg(
            F.sum("is_true").alias("tp"),
            F.sum(1 - F.col("is_true")).alias("fp"),
        )
    )
    n_truth = truth.count()
    out = (
        rounds.join(per_round, "round", "left")
        .select(
            "round",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
        )
        .withColumn("fn", F.lit(n_truth) - F.col("tp"))
        .withColumn(
            "precision", F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
        )
        .withColumn(
            "recall", F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
        )
        .withColumn(
            "f1",
            F.when(
                F.col("precision") + F.col("recall") > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall")),
            ).otherwise(F.lit(0.0)),
        )
    )
    return out.orderBy("round")


def _write_round_count(
    state_dir: str, b: int, n: int, subdir: str = "round_counts"
) -> None:
    """Record this round's delta row count (scored pairs in
    ``round_counts``, features in ``feat_counts``). The adaptive decide
    gate needs n_accumulated every batch and the compaction folds need
    a total to size their output files; summing the per-round ledger is
    O(batches) file reads instead of an O(accumulated) columnar count
    scan per batch — at thousands of micro-batches the count scan alone
    was a growing per-batch tax. Idempotent overwrite (a resumed batch
    rewrites the same value)."""
    d = os.path.join(state_dir, subdir)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{b:04d}"), "w") as f:
        f.write(str(n))


# ledger subdir -> the delta tree whose parquet footers can backfill a
# missing round record (pre-ledger resumed states — ADVICE r05)
_LEDGER_DATA = {
    "round_counts": ("scored_rounds", "round"),
    "feat_counts": ("features", "batch"),
}


def _sum_round_counts(
    state_dir: str, upto_batch: int, subdir: str = "round_counts"
) -> int | None:
    """Sum of recorded delta counts for rounds 0..upto_batch.

    A missing round record (state resumed from a pre-ledger run) is
    BACKFILLED once from the corresponding delta dir's parquet footers
    — a driver-side metadata read, no Spark job — and written to the
    ledger, so resumed legacy states stop falling back to the
    O(accumulated) count scan on every subsequent batch (ADVICE r05:
    the old early-return made the 'covered from their next batch on'
    promise false). None only when a round has neither a record nor a
    committed delta dir."""
    d = os.path.join(state_dir, subdir)
    total = 0
    for b in range(upto_batch + 1):
        p = os.path.join(d, f"{b:04d}")
        try:
            with open(p) as f:
                total += int(f.read())
        except (OSError, ValueError):
            data_dir, part = _LEDGER_DATA[subdir]
            n = _parquet_rows(
                os.path.join(state_dir, data_dir, f"{part}={b}")
            )
            if n is None:
                return None
            _write_round_count(state_dir, b, n, subdir=subdir)
            total += n
    return total


def epoch_already_processed(state_dir: str, epoch_marker: str) -> bool:
    """True iff a done marker carrying this content exists — the
    foreachBatch replay guard. Structured Streaming's foreachBatch is
    at-least-once: a crash after the done marker but before the
    checkpoint WAL commit re-delivers the SAME epoch_id, which would
    re-ingest the same records under a fresh batch id (duplicated
    scored pairs make every affected pair its own runner-up, so a
    global-mode ratio test would silently revoke genuine matches).
    Marker content keys the dedup — ``md5(checkpoint_dir):epoch_id``
    when the caller scopes it (make_process_batch run_scope; epoch ids
    restart at 0 per checkpoint location, so an unscoped marker would
    make a NEW query over the same state skip its first batches), bare
    str(epoch_id) otherwise; run_incremental's 'ok' markers never
    collide with either."""
    done_dir = os.path.join(state_dir, "done")
    if not os.path.isdir(done_dir):
        return False
    # O(1) fast path: every commit also writes a content-NAMED twin
    # (_content_done), so a processed epoch resolves in one exists()
    if os.path.exists(_content_done(state_dir, epoch_marker)):
        return True
    # a state whose every batch marker has a twin is fully migrated:
    # absence of the twin IS the answer — no file opens. (Commit order
    # writes _DONE_N before its twin, so a crash in between leaves
    # fewer twins than markers and the content scan below still finds
    # the committed epoch, re-writing the missing twin.)
    names = os.listdir(done_dir)
    batch_markers = [
        n
        for n in names
        if n.startswith("_DONE_") and not n.startswith("_DONE_C_")
    ]
    n_twins = sum(1 for n in names if n.startswith("_DONE_C_"))
    if n_twins >= len(batch_markers):
        return False
    # one full scan migrates EVERY legacy marker to its twin, so a
    # resumed pre-upgrade stream pays this walk once, not per epoch
    found = False
    for name in batch_markers:
        try:
            with open(os.path.join(done_dir, name)) as f:
                content = f.read()
        except OSError:
            continue
        try:
            with open(_content_done(state_dir, content), "w") as g:
                g.write(name[len("_DONE_"):])
        except OSError:
            pass
        if content == epoch_marker:
            found = True
    return found


def _derived_batch_partitions(
    prev_rows: int, session_default: int
) -> int | None:
    """Default micro-batch shuffle-partition count, derived from the
    previous batch's recorded feature rows: ~4096 rows per partition,
    floored at 8, never above the session default. None when the
    derivation would not lower the session setting (scoping then adds
    nothing)."""
    scoped = max(8, min(session_default, (prev_rows + 4095) // 4096))
    return None if scoped >= session_default else scoped


def process_one_batch(
    spark: SparkSession,
    new_transcripts: DataFrame,
    cfg: PipelineConfig,
    state_dir: str,
    b: int,
    marker_text: str = "ok",
    scored_snapshots: bool = True,
) -> None:
    """One incremental round (see _process_one_batch_impl for the full
    step contract). This wrapper scopes
    ``cfg.batch_shuffle_partitions``: batch-sized shuffles at the
    cluster-wide partition default pay fixed per-partition scheduling
    cost AQE doesn't remove (measured 10-20% of the micro-batch floor
    — BASELINE.md), so the session's shuffle-partition count is
    lowered for the batch and restored after, crash-safe via finally.

    The partition count DERIVES from the feature-count ledger by
    default (VERDICT r05 #4 — the capstone configuration is now the
    default): clamp(prev_batch_rows/4096, 8, session default), using
    the PREVIOUS batch's recorded size (batches are similarly sized;
    reading the ledger costs one file open, zero Spark actions). Batch
    0, or a state with no ledger, runs unscoped. Explicit N overrides;
    0 disables scoping entirely. Behavior change: None used to mean
    "leave the session setting alone" and now derives a per-batch
    value, so callers that relied on the old no-op must pass 0."""
    scoped = cfg.batch_shuffle_partitions
    key = "spark.sql.shuffle.partitions"
    try:
        session_default = int(spark.conf.get(key))
    except (TypeError, ValueError):
        session_default = 200
    if scoped is None and b > 0:
        # only the previous round's size matters — read that one record
        try:
            with open(
                os.path.join(state_dir, "feat_counts", f"{b - 1:04d}")
            ) as f:
                prev_rows = int(f.read())
        except (OSError, ValueError):
            prev_rows = None
        if prev_rows is not None:
            scoped = _derived_batch_partitions(prev_rows, session_default)
    if not scoped:
        _process_one_batch_impl(
            spark, new_transcripts, cfg, state_dir, b, marker_text,
            scored_snapshots,
        )
        return
    prev = spark.conf.get(key)
    spark.conf.set(key, str(scoped))
    try:
        _process_one_batch_impl(
            spark, new_transcripts, cfg, state_dir, b, marker_text,
            scored_snapshots,
        )
    finally:
        spark.conf.set(key, prev)


def _process_one_batch_impl(
    spark: SparkSession,
    new_transcripts: DataFrame,
    cfg: PipelineConfig,
    state_dir: str,
    b: int,
    marker_text: str = "ok",
    scored_snapshots: bool = True,
) -> None:
    """One incremental round over a batch of transcript turns — the
    SHARED step behind run_incremental (chunked batch loop) and
    stream_incremental_er (Structured Streaming foreachBatch): append
    the batch's features, stream-static candidates + scoring with a
    per-round snapshot (W5), decision deltas (global configs re-decide
    over accumulated scored state — module docstring), component-state
    update, terminal done marker.

    scored_snapshots=False skips the per-round scored-pair snapshot
    (W5) for lean threshold-mode streams — the snapshot is the widest
    intermediate and nothing reads it in threshold mode; global
    configs REQUIRE it (the accumulated re-decision reads the whole
    scored_rounds tree), so the flag is overridden there."""
    global_mode = _is_global_mode(cfg)
    scored_snapshots = scored_snapshots or global_mode
    os.makedirs(os.path.join(state_dir, "done"), exist_ok=True)
    _t0 = time.monotonic()
    feats_new = featurize(assemble_conversations(new_transcripts), cfg)

    # 1. append this batch's features (idempotent partition write),
    #    then read the full state back — snapshot ∪ delta dirs ≤ b, so
    #    a crashed later batch's partial files are never visible and
    #    the scanned file count stays bounded (_snapshot_tree)
    feats_new.select(*_FEATURE_COLS).write.mode("overwrite").parquet(
        os.path.join(state_dir, "features", f"batch={b}")
    )
    # featurize persists its tokenized intermediate; the parquet
    # write above materialized everything — release it or every
    # batch leaks one cached RDD for the session lifetime
    _release_upstream(feats_new)
    feats_new = spark.read.parquet(
        os.path.join(state_dir, "features", f"batch={b}")
    )
    # batch-sized parquet; certifies the broadcast-restriction gates
    # below. Footer metadata answers exactly — one Spark count job per
    # batch removed (micro-batch floor, guide §1/§5)
    n_new = _parquet_rows(os.path.join(state_dir, "features", f"batch={b}"))
    if n_new is None:
        n_new = feats_new.count()
    _write_round_count(state_dir, b, n_new, subdir="feat_counts")
    if b > 0 and _CLUSTER_COMPACT_EVERY and b % _CLUSTER_COMPACT_EVERY == 0:
        # feature-state fold at the shared compaction cadence: seeds
        # from the PREVIOUS snapshot (max_snapshot=b-1) so a resume of
        # this batch never reads the path it overwrites, and sizes its
        # files from the feat-count ledger. Delta dirs stay on disk —
        # pruned reads simply stop touching them.
        _snapshot_coalesce(
            accumulated_features(spark, state_dir, b, max_snapshot=b - 1),
            _sum_round_counts(state_dir, b, subdir="feat_counts"),
        ).write.mode("overwrite").parquet(
            os.path.join(state_dir, "features_compact", f"batch={b}")
        )
    all_feats = accumulated_features(spark, state_dir, b)
    _t_feat = time.monotonic()

    # 2. stream-static candidates + scoring; per-round snapshot (W5).
    # Candidates are batch-sized: localCheckpoint them so (a) the
    # endpoint set for the feature-lookup restriction doesn't
    # recompute the candidate joins and (b) scoring starts from
    # materialized pairs. With the endpoint set broadcast, the
    # feature-attach joins in score_pairs shuffle only looked-up
    # feature rows instead of the whole accumulated state per batch.
    cands = _incremental_candidates(
        feats_new, all_feats, cfg, n_new=n_new
    ).localCheckpoint(eager=True)
    n_pairs = cands.count()
    feats_lookup = all_feats
    if 2 * n_pairs <= _BROADCAST_NODES_MAX:
        feats_lookup = all_feats.join(
            F.broadcast(_endpoints(cands)), "conv_id", "left_semi"
        )
    scored = score_pairs(cands, feats_lookup, cfg)
    if scored_snapshots:
        scored.write.mode("overwrite").parquet(
            os.path.join(state_dir, "scored_rounds", f"round={b}")
        )
        if not global_mode:
            # threshold mode decides over THIS round's pairs: read the
            # snapshot back so the decision reuses the written bytes
            # instead of recomputing scoring (global mode reads the
            # whole accumulated tree below instead — this round
            # included — so a single-round read-back would be unused)
            scored = spark.read.parquet(
                os.path.join(state_dir, "scored_rounds", f"round={b}")
            )

    # 3. decisions. Threshold mode: pure DELTAS — a pair is decided
    # in exactly one batch. Global mode (ratio/mutual): re-decide
    # over the ACCUMULATED scored state and diff against the
    # previous match set (adds + at-most-one revoke per pair —
    # module docstring).
    _t_score = time.monotonic()
    decide_path = "delta"
    if global_mode:
        keys = ["conv_id_a", "conv_id_b"]
        delta = spark.read.parquet(
            os.path.join(state_dir, "scored_rounds", f"round={b}")
        )
        n_delta = _parquet_rows(
            os.path.join(state_dir, "scored_rounds", f"round={b}")
        )  # footer metadata — no count job
        if n_delta is None:
            n_delta = delta.count()
        _write_round_count(state_dir, b, n_delta)
        if b > 0:  # any earlier batch (fresh or resumed) wrote state
            if _CLUSTER_COMPACT_EVERY and b % _CLUSTER_COMPACT_EVERY == 0:
                # scored-state fold (same cadence + resume contract as
                # the feature fold): the global re-decision reads the
                # WHOLE accumulated scored tree every batch, so this is
                # the read it keeps bounded
                _snapshot_coalesce(
                    _accumulated_scored(
                        spark, state_dir, b, max_snapshot=b - 1
                    ),
                    _sum_round_counts(state_dir, b),
                ).write.mode("overwrite").parquet(
                    os.path.join(state_dir, "scored_compact", f"round={b}")
                )
            acc = _accumulated_scored(spark, state_dir, b)
            # accumulated size from the per-round count ledger — an
            # O(batches) file-read instead of an O(accumulated) scan
            # per batch; legacy states (no ledger) fall back to the
            # scan once and are covered from their next batch on
            prev_n = _sum_round_counts(state_dir, b - 1)
            n_acc = prev_n + n_delta if prev_n is not None else acc.count()
            decide_path = (
                "full"
                if n_acc <= _FULL_REDECIDE_MAX_RATIO * max(n_delta, 1)
                else "neighborhood"
            )
            if decide_path == "full":
                # small accumulated state: one window over the whole
                # tree is cheaper than the neighborhood restriction
                # (which pays several action barriers and re-scans of
                # the same tree) — the measured crossover constant
                full = decide_matches(acc, cfg)
                prev = accumulated_matches(
                    spark, state_dir, upto_batch=b - 1
                )
                adds = full.join(prev.select(*keys), keys, "left_anti")
                revoked = prev.select(*keys).join(
                    full.select(*keys), keys, "left_anti"
                )
            else:
                # AFFECTED-NEIGHBORHOOD re-decision (module docstring):
                # only pairs incident to this batch's new scored pairs
                # can flip; deciding them needs both endpoints' full
                # neighborhoods, i.e. pairs incident to the one-hop
                # closure. decide_matches runs over that region and
                # the diff against the previous match set is
                # restricted to the same affected pair set. Node sets
                # broadcast when counted small, so the accumulated
                # tree is only ever SCANNED map-side, never shuffled;
                # each batch-sized intermediate is eagerly
                # localCheckpointed — the nested chains reference
                # their upstream several times (a/b branches,
                # window + direct decision branches, adds + revokes)
                # and un-truncated lineage recomputes the whole chain
                # per reference (measured 30 s -> 112 s).
                affected = _endpoints(delta.select(*keys)).localCheckpoint(
                    eager=True
                )
                # |affected| <= 2 * n_delta, so the common micro-batch
                # case proves broadcastability without a count action
                small = (
                    2 * n_delta <= _BROADCAST_NODES_MAX
                    or affected.count() <= _BROADCAST_NODES_MAX
                )
                frontier = _endpoints(
                    _pairs_incident(acc, affected, small).select(*keys)
                ).localCheckpoint(eager=True)
                small_f = frontier.count() <= _BROADCAST_NODES_MAX
                region = _pairs_incident(
                    acc, frontier, small_f
                ).localCheckpoint(eager=True)
                decided = _pairs_incident(
                    decide_matches(region, cfg), affected, small
                ).localCheckpoint(eager=True)
                prev = _pairs_incident(
                    accumulated_matches(spark, state_dir, upto_batch=b - 1),
                    affected,
                    small,
                ).localCheckpoint(eager=True)
                adds = decided.join(prev.select(*keys), keys, "left_anti")
                revoked = prev.select(*keys).join(
                    decided.select(*keys), keys, "left_anti"
                )
        else:
            decide_path = "initial"
            adds = decide_matches(delta, cfg)
            revoked = spark.createDataFrame(
                [], "conv_id_a string, conv_id_b string"
            )
        adds.write.mode("overwrite").parquet(
            os.path.join(state_dir, "matches", f"batch={b}")
        )
        revoked.write.mode("overwrite").parquet(
            os.path.join(state_dir, "revoked", f"batch={b}")
        )
        if b > 0 and _CLUSTER_COMPACT_EVERY and b % _CLUSTER_COMPACT_EVERY == 0:
            # match-set snapshot at the same cadence as the cluster
            # compaction: folds all deltas so far so accumulated reads
            # prune to [snapshot, now] (the delta trees stay — the
            # round timeseries needs full history). _SUCCESS commits
            # it; the cluster step below already reads the pruned view.
            # max_snapshot=b-1: a crash that committed this snapshot
            # but not the done marker must rebuild it from the
            # PREVIOUS compaction on resume — seeding from batch=b
            # itself would overwrite a path being read (fatal on every
            # subsequent resume attempt).
            accumulated_matches(
                spark, state_dir, upto_batch=b, max_snapshot=b - 1
            ).write.mode("overwrite").parquet(
                os.path.join(state_dir, "matches_compact", f"batch={b}")
            )
        _cluster_delta_step(spark, state_dir, b, cfg)
    else:
        new_matches = decide_matches(scored, cfg)
        new_matches.write.mode("overwrite").parquet(
            os.path.join(state_dir, "matches", f"batch={b}")
        )
        new_matches = spark.read.parquet(
            os.path.join(state_dir, "matches", f"batch={b}")
        )

        # 4. incremental CC over the reduced component graph
        # (global mode recomputes CC at read time instead — merges
        # can't express revocation)
        _merge_step(spark, new_matches, state_dir, b, cfg)

    # per-batch audit record (reference analog: the Kafka consumer's
    # per-window logging, kafkaconsumer.py:511-524): pure wall
    # attribution captured around the phases already executed — adds
    # ZERO Spark actions. Phase boundaries are the parquet writes, so
    # lazily-fused work lands in the phase whose write materialized
    # it (threshold mode without snapshots: scoring lands in decide).
    _t_end = time.monotonic()
    audit_dir = os.path.join(state_dir, "audit")
    os.makedirs(audit_dir, exist_ok=True)
    with open(os.path.join(audit_dir, f"batch_{b:04d}.json"), "w") as f:
        json.dump(
            {
                "batch": b,
                "mode": "global" if global_mode else "threshold",
                "decide_path": decide_path,
                "featurize_s": round(_t_feat - _t0, 3),
                "score_s": round(_t_score - _t_feat, 3),
                "decide_s": round(_t_end - _t_score, 3),
                "total_s": round(_t_end - _t0, 3),
            },
            f,
        )

    with open(_done(state_dir, b), "w") as f:
        f.write(marker_text)
    # content-named twin AFTER the commit marker (a crash in between
    # is healed by the guard's legacy scan) — replay lookup becomes one
    # os.path.exists
    with open(_content_done(state_dir, marker_text), "w") as f:
        f.write(f"{b:04d}")


def read_batch_audit(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-batch audit records as a DataFrame (batch, mode,
    decide_path, per-phase walls) — ordered by batch."""
    return spark.read.json(os.path.join(state_dir, "audit")).orderBy("batch")


def run_incremental(
    transcripts: DataFrame,
    cfg: PipelineConfig,
    state_dir: str,
    n_batches: int = 4,
    resume: bool = False,
) -> DataFrame:
    """Process transcripts in n_batches deterministic chunks,
    maintaining APPEND-ONLY feature/match/component state; returns
    final clusters. Global decision configs (ratio test / mutual_only)
    re-decide over accumulated scored state each round — delta writes,
    O(accumulated) per-round reads (module docstring).

    With resume=True, continues after the last batch that wrote its
    done marker (kill/resume converges to the single-shot result).
    """
    spark = transcripts.sparkSession
    start = last_complete_batch(state_dir) + 1 if resume else 0

    batched = transcripts.withColumn(
        "_batch", F.pmod(F.xxhash64("conv_id"), F.lit(n_batches))
    )

    for b in range(start, n_batches):
        new = batched.where(F.col("_batch") == b).drop("_batch")
        process_one_batch(spark, new, cfg, state_dir, b)

    return resolve_clusters(spark, state_dir)
