"""Incremental / micro-batched ER (SURVEY.md §2.10 W1/W4, C4).

The reference consumes Kafka in count windows (window_count records,
kafkaconsumer.py:511-524), matches each window against accumulated
state (exact-match inc, `_em_inc` kafkaconsumer.py:549-620), refits the
index incrementally and re-emits per-round similarity snapshots.

Structured Streaming has no count-based windows, so (SURVEY.md §7.3)
this module keeps the semantics as a deterministic chunked batch loop
over the same stage functions. State is APPEND-ONLY — per-batch cost is
proportional to the BATCH, never to the accumulated state.

Every tree below is a ``streaming.state.StateTree`` of per-batch
deltas ``<tree>/<part>=N``. The first four also fold: every
``state.FOLD_EVERY``-th batch writes ``<tree>_compact/<part>=N``,
committed by ``_SUCCESS``, so a read opens one fold and at most ~K
delta dirs. They differ only in the view their fold holds:

- ``features/batch=N``  new conversations' features; view: union.
- ``scored_rounds/round=N``  per-round scored pairs (W5); view: union.
  Folded in global mode only — the global re-decision reads the whole
  accumulated scored state every batch; the per-round deltas stay for
  W5/timeseries readers.
- ``matches/batch=N``  match DELTAS (new×new ∪ new×state pairs only —
  old×old pairs were decided in earlier rounds and never re-explored,
  so a pair appears in exactly one batch); view: adds minus the
  ``revoked/batch=N`` deltas after the fold (global mode, below).
- ``clusters/batch=N``  global-mode cluster assignments; view:
  latest-wins per conv_id (below).
- ``revoked/batch=N``  global-mode revokes; read through the
  matches view, never folded.
- ``remaps/batch=N``  incremental-CC merge records (old_root →
  new_root), the C4 component state of threshold mode. Each batch maps
  its new match edges onto current component roots, runs connected
  components on the REDUCED component graph (bounded by the batch's
  match count), and appends only the roots that changed. Every
  new_root is the minimum id of the component it roots, so reads
  resolve the chains with ``connected_components`` over the remap
  rows: its guarded driver path for small ledgers (a local relation,
  which joins by broadcast), else its distributed loop — above that
  guard the ledger never collects to the driver.

Batch N commits with one empty marker ``done/_DONE_{N:04d}_{md5}``,
written last (``state.commit``); a killed run resumes from the last
committed batch. Every per-batch write targets a deterministic
partition path with overwrite, so replays are idempotent and converge
to the same final clusters as a single-shot batch run (tested in
tests/test_incremental.py). A state dir in an older layout raises
``ValueError`` (``state.check_layout``).

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
  The ledger folds like every other tree; fold rows order as the
  fold batch, so latest-wins over fold ∪ later deltas stays exact.
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
from energy_aware_entity_resolution_spark.streaming.state import (
    StateTree,
    check_layout,
    commit,
    last_complete_batch,
)

_FEATURE_COLS = [
    "conv_id", "sig", "sig_hash", "bitmask", "rare_tokens", "rare_sig",
    "sn_key", "minhash", "vec", "tokens", "cleaned", "doc", "n_turns",
]


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
def _read_remap_df(
    spark: SparkSession, state_dir: str, upto_batch: int
) -> DataFrame | None:
    """(conv_id, component_id) final root of every demoted root in the
    remap rows of batches < upto_batch, or None when there are none.

    The rows form a forest whose roots are their components' minimum
    ids, so connected_components over them is the path-compressed
    chain (its small-graph driver path, or the distributed loop)."""
    path = os.path.join(state_dir, "remaps")
    if not os.path.isdir(path) or not any(
        n.startswith("batch=") and int(n.split("=")[1]) < upto_batch
        for n in os.listdir(path)
    ):
        return None
    edges = spark.read.parquet(path).where(F.col("batch") < upto_batch)
    comp = connected_components(
        edges.select(F.col("old_root").alias("src"), F.col("new_root").alias("dst"))
    )
    return comp.where(F.col("conv_id") != F.col("component_id"))


def _merge_step(
    spark: SparkSession,
    new_matches: DataFrame,
    state_dir: str,
    b: int,
    cfg: PipelineConfig,
) -> None:
    """Incremental connected components (C4): resolve the batch's match
    edges to their CURRENT component roots (remap join), run
    CC on the reduced component graph — bounded by this batch's match
    count, independent of total state — and append only the changed
    roots as remap records."""
    edges = new_matches.select(
        F.col("conv_id_a").alias("u"), F.col("conv_id_b").alias("v")
    )
    remap = _read_remap_df(spark, state_dir, b)
    if remap is not None:
        ru = remap.select(
            F.col("conv_id").alias("u"), F.col("component_id").alias("ru")
        )
        rv = remap.select(
            F.col("conv_id").alias("v"), F.col("component_id").alias("rv")
        )
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
    StateTree(state_dir, "remaps", "batch").write(b, new_remaps)


def resolve_clusters(spark: SparkSession, state_dir: str) -> DataFrame:
    """(conv_id, component_id) for every conversation seen so far:
    feature ids ⟕ path-compressed remap chain (see _read_remap_df).

    Global-decision state carries no remap ledger — merge-only remaps
    can't express revocation — so clusters read the ``clusters`` tree
    instead (latest assignment per conv_id; see _cluster_delta_step).
    A state dir in an older layout raises ValueError.

    Every read is bounded to COMMITTED batches (commit marker written):
    a crashed or concurrently-running batch's partial files — features
    without matches, adds without revokes, remaps without the marker —
    are never visible."""
    check_layout(state_dir)
    last = last_complete_batch(state_dir)
    all_ids = accumulated_features(spark, state_dir, last).select("conv_id")
    if os.path.isdir(os.path.join(state_dir, "clusters")):
        assign = _cluster_assignments(spark, state_dir, last)
        return all_ids.join(assign, "conv_id", "left").select(
            "conv_id",
            F.coalesce("component_id", F.col("conv_id")).alias("component_id"),
        )
    remap = _read_remap_df(spark, state_dir, last + 1)
    if remap is None:
        return all_ids.select(
            "conv_id", F.col("conv_id").alias("component_id")
        )
    return all_ids.join(remap, "conv_id", "left").select(
        "conv_id",
        F.coalesce("component_id", F.col("conv_id")).alias("component_id"),
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


def _cluster_assignments(
    spark: SparkSession,
    state_dir: str,
    upto_batch: int,
    max_fold: int | None = None,
) -> DataFrame:
    """Current (conv_id, component_id) view of the global-mode cluster
    DELTA ledger — the clusters tree's latest-wins view: per conv_id,
    the latest batch's assignment wins (fold rows order as the fold
    batch). One columnar scan + one window — never a CC recompute.
    (resolve-time read and fold view; the per-batch step uses the
    id-restricted _latest_assignment instead so its window shuffles
    only the touched region's history)."""
    df, _ = StateTree(state_dir, "clusters", "batch").read(
        spark, upto_batch, max_fold
    )
    return _latest_assignment(df)


def _latest_assignment(
    tree: DataFrame, ids: DataFrame | None = None, small_ids: bool = False
) -> DataFrame:
    """Latest-batch cluster assignment, restricted to ``ids`` when
    given: semi-join FIRST (broadcast when the caller counted ids
    small — the ledger tree is scanned map-side, not shuffled), then
    window only over the restricted rows. Restricting by conv_id keeps
    the latest-wins semantics exact: every historical row of a kept id
    survives the semi-join, so the window still sees the id's full
    history."""
    sub = tree
    if ids is not None:
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
    matches = StateTree(state_dir, "matches", "batch")
    revoked = StateTree(state_dir, "revoked", "batch")
    clusters = StateTree(state_dir, "clusters", "batch")
    touched = (
        _endpoints(spark.read.parquet(matches.path(b)))
        .unionByName(_endpoints(spark.read.parquet(revoked.path(b))))
        .distinct()
        .localCheckpoint(eager=True)  # batch-sized; read by 3 branches
    )
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
        tree, _ = clusters.read(spark, b - 1)
        # |touched| <= 2*(adds + revokes); both dirs were just written,
        # so their parquet footers bound it without a count job
        # (VERDICT r05 #3: reuse ledger/metadata bounds to skip
        # provable-small checks). Exact count only when the bound
        # can't certify the broadcast.
        n_adds = matches.rows(b)
        n_rev = revoked.rows(b)
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
    clusters.write(b, assign)
    clusters.fold(
        b, lambda upto, mf: _cluster_assignments(spark, state_dir, upto, mf)
    )


def accumulated_features(
    spark: SparkSession,
    state_dir: str,
    upto_batch: int,
    max_fold: int | None = None,
) -> DataFrame:
    """Feature state as of ``upto_batch``: the features tree's union
    view (fold ∪ later batch deltas — StateTree.read)."""
    df, _ = StateTree(state_dir, "features", "batch").read(
        spark, upto_batch, max_fold
    )
    return df.drop("batch")


def _accumulated_scored(
    spark: SparkSession,
    state_dir: str,
    upto_round: int,
    max_fold: int | None = None,
) -> DataFrame:
    """Accumulated scored-pair state as of ``upto_round`` (global-mode
    re-decision input; the scored tree's union view). Per-round
    ``scored_rounds/round=N`` deltas are never deleted — W5 readers and
    the round timeseries keep full history."""
    df, _ = StateTree(state_dir, "scored_rounds", "round").read(
        spark, upto_round, max_fold
    )
    return df.drop("round")


def _has_revokes(state_dir: str) -> bool:
    """True once a global-mode batch wrote a ``revoked/batch=N`` delta."""
    rev_path = os.path.join(state_dir, "revoked")
    return os.path.isdir(rev_path) and any(
        n.startswith("batch=") for n in os.listdir(rev_path)
    )


def accumulated_matches(
    spark: SparkSession,
    state_dir: str,
    upto_batch: int | None = None,
    max_fold: int | None = None,
) -> DataFrame:
    """Current match set — the matches tree's view: adds minus revokes
    (global-decision mode only writes revokes; a pair is added at most
    once and revoked at most once, after its add — see module
    docstring monotonicity argument). The fold already holds adds minus
    revokes up to its batch, so only revokes after the fold apply. The
    delta trees themselves are never deleted
    (round_evaluation_timeseries needs full history).

    upto_batch=None reads COMMITTED state only (batches with a commit
    marker): a batch's adds land before its revokes, so an unbounded
    read during a crash window or a concurrent micro-batch would see
    pairs whose revocation hasn't been written yet — the same
    partial-state hazard the features reader prunes against.
    max_fold is StateTree.read's: the fold writer seeds from the fold
    before the one it overwrites."""
    if upto_batch is None:
        upto_batch = last_complete_batch(state_dir)
    m, since = StateTree(state_dir, "matches", "batch").read(
        spark, upto_batch, max_fold
    )
    m = m.drop("batch")
    if _has_revokes(state_dir):
        rev, _ = StateTree(state_dir, "revoked", "batch").read(
            spark, upto_batch
        )
        m = m.join(
            rev.where(F.col("batch") > since).select("conv_id_a", "conv_id_b"),
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
    if _has_revokes(state_dir):
        rev = (
            spark.read.parquet(os.path.join(state_dir, "revoked"))
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
) -> None:
    """One incremental round (see _process_one_batch_impl for the full
    step contract). A state dir in an older layout raises ValueError
    before any work. This wrapper scopes
    ``cfg.batch_shuffle_partitions``: batch-sized shuffles at the
    cluster-wide partition default pay fixed per-partition scheduling
    cost AQE doesn't remove (measured 10-20% of the micro-batch floor
    — BASELINE.md), so the session's shuffle-partition count is
    lowered for the batch and restored after, crash-safe via finally.

    The partition count DERIVES from the previous batch's feature
    rows by default (VERDICT r05 #4 — the capstone configuration is
    now the default): clamp(prev_batch_rows/4096, 8, session default)
    (batches are similarly sized; the footers of ``features/batch=b-1``
    answer with zero Spark actions). Batch 0 runs unscoped. Explicit N
    overrides; 0 disables scoping entirely. Behavior change: None used
    to mean "leave the session setting alone" and now derives a
    per-batch value, so callers that relied on the old no-op must
    pass 0."""
    check_layout(state_dir)
    scoped = cfg.batch_shuffle_partitions
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        session_default = int(prev)
    except (TypeError, ValueError):
        session_default = 200
    if scoped is None and b > 0:
        prev_rows = StateTree(state_dir, "features", "batch").rows(b - 1)
        if prev_rows is not None:
            scoped = _derived_batch_partitions(prev_rows, session_default)
    if scoped:
        spark.conf.set(key, str(scoped))
    try:
        _process_one_batch_impl(
            spark, new_transcripts, cfg, state_dir, b, marker_text
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
) -> None:
    """One incremental round over a batch of transcript turns — the
    SHARED step behind run_incremental (chunked batch loop) and
    stream_incremental_er (Structured Streaming foreachBatch): append
    the batch's features, stream-static candidates + scoring with a
    per-round snapshot (W5), decision deltas (global configs re-decide
    over accumulated scored state — module docstring), component-state
    update, terminal commit marker. Each tree folds on the shared
    cadence right after its delta is written (StateTree.fold)."""
    global_mode = _is_global_mode(cfg)
    features = StateTree(state_dir, "features", "batch")
    scored_rounds = StateTree(state_dir, "scored_rounds", "round")
    matches = StateTree(state_dir, "matches", "batch")
    _t0 = time.monotonic()
    feats_new = featurize(assemble_conversations(new_transcripts), cfg)

    # 1. append this batch's features (idempotent partition write),
    #    then read the full state back — fold ∪ delta dirs ≤ b, so a
    #    crashed later batch's partial files are never visible and the
    #    scanned file count stays bounded (StateTree.read)
    features.write(b, feats_new.select(*_FEATURE_COLS))
    # featurize persists its tokenized intermediate; the parquet
    # write above materialized everything — release it or every
    # batch leaks one cached RDD for the session lifetime
    _release_upstream(feats_new)
    feats_new = spark.read.parquet(features.path(b))
    # batch-sized parquet; certifies the broadcast-restriction gates
    # below. Footer metadata answers exactly — one Spark count job per
    # batch removed (micro-batch floor, guide §1/§5)
    n_new = features.rows(b)
    if n_new is None:
        n_new = feats_new.count()
    features.fold(
        b, lambda upto, mf: accumulated_features(spark, state_dir, upto, mf)
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
    scored_rounds.write(b, score_pairs(cands, feats_lookup, cfg))
    # decide over the written snapshot: reuses its bytes instead of
    # recomputing scoring
    scored = spark.read.parquet(scored_rounds.path(b))

    # 3. decisions. Threshold mode: pure DELTAS — a pair is decided
    # in exactly one batch. Global mode (ratio/mutual): re-decide
    # over the ACCUMULATED scored state and diff against the
    # previous match set (adds + at-most-one revoke per pair —
    # module docstring).
    _t_score = time.monotonic()
    decide_path = "delta"
    if global_mode:
        keys = ["conv_id_a", "conv_id_b"]
        n_delta = scored_rounds.rows(b)  # footer metadata — no count job
        if n_delta is None:
            n_delta = scored.count()
        if b > 0:  # any earlier batch (fresh or resumed) wrote state
            # the global re-decision reads the WHOLE accumulated scored
            # tree every batch, so this fold is the read it keeps bounded
            scored_rounds.fold(
                b,
                lambda upto, mf: _accumulated_scored(
                    spark, state_dir, upto, mf
                ),
            )
            acc = _accumulated_scored(spark, state_dir, b)
            # accumulated size from the tree's footers — a metadata
            # read of one fold + ≤ K deltas instead of an
            # O(accumulated) count scan per batch
            n_acc = scored_rounds.total_rows(b)
            if n_acc is None:
                n_acc = acc.count()
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
                affected = _endpoints(scored).localCheckpoint(
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
            adds = decide_matches(scored, cfg)
            revoked = spark.createDataFrame(
                [], "conv_id_a string, conv_id_b string"
            )
        matches.write(b, adds)
        StateTree(state_dir, "revoked", "batch").write(b, revoked)
        # the cluster step below already reads the folded view
        matches.fold(
            b,
            lambda upto, mf: accumulated_matches(spark, state_dir, upto, mf),
        )
        _cluster_delta_step(spark, state_dir, b, cfg)
    else:
        matches.write(b, decide_matches(scored, cfg))
        new_matches = spark.read.parquet(matches.path(b))

        # 4. incremental CC over the reduced component graph
        # (global mode recomputes CC at read time instead — merges
        # can't express revocation)
        _merge_step(spark, new_matches, state_dir, b, cfg)

    # per-batch audit record (reference analog: the Kafka consumer's
    # per-window logging, kafkaconsumer.py:511-524): pure wall
    # attribution captured around the phases already executed — adds
    # ZERO Spark actions. Phase boundaries are the parquet writes, so
    # lazily-fused work lands in the phase whose write materialized
    # it.
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

    commit(state_dir, b, marker_text)


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
