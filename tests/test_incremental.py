"""Incremental micro-batch mode (W1/W4/C4): converges to the batch
result and resumes from a kill (north_rule checkpoint/resume)."""

from __future__ import annotations

import functools

from pyspark.sql import functions as F

from energy_aware_entity_resolution_spark.config import PipelineConfig
from energy_aware_entity_resolution_spark.plans import run_pipeline
from energy_aware_entity_resolution_spark.streaming.incremental import (
    last_complete_batch,
    round_evaluation_timeseries,
    run_incremental,
)


def _cluster_sets(df):
    """Cluster partition as a set of frozensets (component ids differ
    between incremental and batch runs; the partition must not)."""
    groups = {}
    for r in df.collect():
        groups.setdefault(r["component_id"], set()).add(r["conv_id"])
    return {frozenset(v) for v in groups.values()}


def test_incremental_matches_batch_partition(spark, transcripts, tmp_path):
    batch = run_pipeline(transcripts, PipelineConfig())
    inc = run_incremental(
        transcripts, PipelineConfig(), str(tmp_path / "state"), n_batches=3
    )
    assert _cluster_sets(inc) == _cluster_sets(batch.clusters)


def test_incremental_resume_after_kill(spark, transcripts, tmp_path):
    state = str(tmp_path / "state2")
    cfg = PipelineConfig()
    # run only the first 2 of 4 batches ("crash" after batch 1)
    first = transcripts.withColumn(
        "_b", F.pmod(F.xxhash64("conv_id"), F.lit(4))
    )
    run_incremental(
        first.where(F.col("_b") <= 1).drop("_b"), cfg,
        state, n_batches=2,
    )
    # pretend those two completed batches belong to a 4-batch run:
    # resume must process batches 2..3 only and converge
    assert last_complete_batch(state) == 1
    final = run_incremental(transcripts, cfg, state, n_batches=4, resume=True)
    full = run_incremental(
        transcripts, cfg, str(tmp_path / "state3"), n_batches=4
    )
    assert _cluster_sets(final) == _cluster_sets(full)


def test_incremental_round_snapshots_written(spark, transcripts, tmp_path):
    state = str(tmp_path / "state4")
    run_incremental(transcripts, PipelineConfig(), state, n_batches=2)
    rounds = spark.read.parquet(f"{state}/scored_rounds")
    assert {r["round"] for r in rounds.select("round").distinct().collect()} == {0, 1}


def test_incremental_writes_proportional_to_batch(spark, transcripts, tmp_path):
    """The O(T²) regression gate: per-batch FEATURE rows written equal
    that batch's conversation count (append-only deltas), never the
    accumulated state; match deltas are disjoint across batches; the
    component state is remap records only (bounded by merges)."""
    state = str(tmp_path / "state5")
    n_batches = 3
    run_incremental(transcripts, PipelineConfig(), state, n_batches=n_batches)

    batched = transcripts.select("conv_id").distinct().withColumn(
        "_b", F.pmod(F.xxhash64("conv_id"), F.lit(n_batches))
    )
    expected = {
        r["_b"]: r["n"]
        for r in batched.groupBy("_b").agg(F.count("*").alias("n")).collect()
    }
    feats = spark.read.parquet(f"{state}/features")
    written = {
        r["batch"]: r["n"]
        for r in feats.groupBy("batch").agg(F.count("*").alias("n")).collect()
    }
    assert written == expected  # each conv written exactly once, in its batch
    # sum of per-batch writes == total state (no wholesale rewrites)
    assert sum(written.values()) == transcripts.select("conv_id").distinct().count()

    matches = spark.read.parquet(f"{state}/matches")
    per_pair = (
        matches.groupBy("conv_id_a", "conv_id_b").count().where(F.col("count") > 1)
    )
    assert per_pair.count() == 0  # deltas: a pair decided in exactly one batch

    remaps = spark.read.parquet(f"{state}/remaps")
    n_matches = matches.count()
    assert remaps.count() <= 2 * n_matches  # component state bounded by merges

    # one commit marker per batch, and no count ledgers
    import os

    assert len(os.listdir(f"{state}/done")) == n_batches
    assert not any(n.startswith("_DONE_C_") for n in os.listdir(f"{state}/done"))
    assert not os.path.exists(f"{state}/feat_counts")
    assert not os.path.exists(f"{state}/round_counts")


def test_incremental_matches_batch_global_configs(spark, transcripts, tmp_path):
    """W4 with GLOBAL decision semantics: ratio test + mutual_only read
    full neighborhoods, so the incremental mode re-decides over
    accumulated scored state each round. Final matches AND the cluster
    partition must equal the single-shot batch run (sorted-neighborhood
    off in both so candidate sets coincide exactly)."""
    from energy_aware_entity_resolution_spark.config import (
        BlockingConfig,
        ScoringConfig,
    )
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        accumulated_matches,
    )

    cfg = PipelineConfig(
        blocking=BlockingConfig(use_sorted_neighborhood=False),
        scoring=ScoringConfig(mutual_only=True, ratio_threshold=1.05),
    )
    batch = run_pipeline(transcripts, cfg)
    state = str(tmp_path / "state_glob")
    inc = run_incremental(transcripts, cfg, state, n_batches=3)
    assert _cluster_sets(inc) == _cluster_sets(batch.clusters)
    got = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in accumulated_matches(spark, state).collect()
    }
    want = {
        (r["conv_id_a"], r["conv_id_b"]) for r in batch.matches.collect()
    }
    assert got == want


def test_batch_audit_records(spark, transcripts, tmp_path):
    """Per-batch audit: every incremental round writes a wall-
    attribution record (reference analog of the Kafka consumer's
    per-window logging) with mode and decision-path provenance."""
    from energy_aware_entity_resolution_spark.config import (
        BlockingConfig,
        ScoringConfig,
    )
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        read_batch_audit,
    )

    state = str(tmp_path / "audit_thr")
    run_incremental(transcripts, PipelineConfig(), state, n_batches=2)
    rows = read_batch_audit(spark, state).collect()
    assert [r["batch"] for r in rows] == [0, 1]
    assert all(r["mode"] == "threshold" for r in rows)
    assert all(r["decide_path"] == "delta" for r in rows)
    assert all(r["total_s"] > 0 for r in rows)

    gcfg = PipelineConfig(
        blocking=BlockingConfig(use_sorted_neighborhood=False),
        scoring=ScoringConfig(mutual_only=True, ratio_threshold=1.05),
    )
    gstate = str(tmp_path / "audit_glob")
    run_incremental(transcripts, gcfg, gstate, n_batches=2)
    grows = {r["batch"]: r for r in read_batch_audit(spark, gstate).collect()}
    assert grows[0]["decide_path"] == "initial"
    assert grows[1]["decide_path"] in ("full", "neighborhood")
    assert all(r["mode"] == "global" for r in grows.values())


def test_global_neighborhood_equals_full_on_dense_graphs(
    spark, tmp_path, monkeypatch
):
    """The closure argument under adversarial density: conversations
    built from a SMALL shared vocab pool, so blocks overlap heavily
    and one batch's new pairs can flip ratio/mutual decisions deep in
    the existing graph. The forced-neighborhood path must produce
    bit-identical match state and cluster partitions to the forced
    full re-decision, across seeds."""
    import random
    from datetime import datetime

    import energy_aware_entity_resolution_spark.streaming.incremental as inc
    from energy_aware_entity_resolution_spark.config import (
        BlockingConfig,
        ScoringConfig,
    )
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        accumulated_matches,
    )

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    vocab = [f"tok{i}" for i in range(12)]  # tiny pool -> dense overlap
    cfg = PipelineConfig(
        blocking=BlockingConfig(use_sorted_neighborhood=False),
        scoring=ScoringConfig(mutual_only=True, ratio_threshold=1.05),
    )

    def mk_transcripts(seed):
        rnd = random.Random(seed)
        rows = []
        for i in range(36):
            words = rnd.sample(vocab, k=rnd.randint(4, 7))
            for t in range(2):
                rows.append(
                    (f"c{i:02d}", t, "user", " ".join(words),
                     None, datetime(2026, 1, 1, 0, 0, t))
                )
        return spark.createDataFrame(rows, schema)

    def state_of(state_dir):
        matches = {
            (r["conv_id_a"], r["conv_id_b"])
            for r in accumulated_matches(spark, state_dir).collect()
        }
        return matches

    for seed in (1, 7, 23):
        t = mk_transcripts(seed)
        monkeypatch.setattr(inc, "_FULL_REDECIDE_MAX_RATIO", 0.0)
        nb = run_incremental(
            t, cfg, str(tmp_path / f"nb{seed}"), n_batches=3
        )
        nb_state = state_of(str(tmp_path / f"nb{seed}"))
        monkeypatch.setattr(inc, "_FULL_REDECIDE_MAX_RATIO", float("inf"))
        fl = run_incremental(
            t, cfg, str(tmp_path / f"fl{seed}"), n_batches=3
        )
        fl_state = state_of(str(tmp_path / f"fl{seed}"))
        assert nb_state == fl_state, f"seed {seed}: match sets differ"
        assert _cluster_sets(nb) == _cluster_sets(fl), f"seed {seed}"
        monkeypatch.undo()


def test_global_cluster_ledger_compaction(spark, transcripts, tmp_path, monkeypatch):
    """Ledger folds: every K-th global batch folds the full current
    assignment into ``clusters_compact/batch=N``, after which reads
    prune to [fold, now]. Proof of pruning: deleting every pre-fold
    batch partition must not change the resolved clusters. Every fold
    of every tree is a ``<tree>_compact/<part>=N`` dir committed by
    ``_SUCCESS`` — no plain marker files."""
    import shutil

    import energy_aware_entity_resolution_spark.streaming.state as st
    from energy_aware_entity_resolution_spark.config import (
        BlockingConfig,
        ScoringConfig,
    )
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        resolve_clusters,
    )

    monkeypatch.setattr(st, "FOLD_EVERY", 2)
    cfg = PipelineConfig(
        blocking=BlockingConfig(use_sorted_neighborhood=False),
        scoring=ScoringConfig(mutual_only=True, ratio_threshold=1.05),
    )
    state = str(tmp_path / "gstate_compact")
    inc_clusters = run_incremental(transcripts, cfg, state, n_batches=4)
    want = _cluster_sets(inc_clusters)
    # folds at batch 2 only (nothing <= 1), each a committed dir
    import os

    folds = {
        (tree, name)
        for tree in os.listdir(state)
        if tree.endswith("_compact")
        for name in os.listdir(f"{state}/{tree}")
    }
    assert folds == {
        ("features_compact", "batch=2"),
        ("scored_rounds_compact", "round=2"),
        ("matches_compact", "batch=2"),
        ("clusters_compact", "batch=2"),
    }
    for tree, name in folds:
        assert os.path.exists(f"{state}/{tree}/{name}/_SUCCESS")
    batch = run_pipeline(transcripts, cfg)
    assert want == _cluster_sets(batch.clusters)
    # reads must not touch pre-compaction partitions: delete them
    for b in (0, 1):
        shutil.rmtree(f"{state}/clusters/batch={b}")
    assert _cluster_sets(resolve_clusters(spark, state)) == want
    # match-set snapshot at the same cadence, same pruning proof:
    # accumulated_matches must survive deleting pre-snapshot deltas
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        accumulated_matches,
    )

    assert os.path.exists(f"{state}/matches_compact/batch=2/_SUCCESS")
    want_m = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in batch.matches.collect()
    }
    for b in (0, 1):
        shutil.rmtree(f"{state}/matches/batch={b}")
        shutil.rmtree(f"{state}/revoked/batch={b}")
    got_m = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in accumulated_matches(spark, state).collect()
    }
    assert got_m == want_m
    batch.release()


def test_incremental_resume_after_kill_global_mode(spark, transcripts, tmp_path):
    """Kill/resume under GLOBAL decision configs: the add+revoke delta
    state AND the per-batch cluster ledger must survive a restart —
    resuming batches 2..3 over a 2-batch prefix converges to the same
    partition and match set as an uninterrupted 4-batch run."""
    from energy_aware_entity_resolution_spark.config import (
        BlockingConfig,
        ScoringConfig,
    )
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        accumulated_matches,
    )

    cfg = PipelineConfig(
        blocking=BlockingConfig(use_sorted_neighborhood=False),
        scoring=ScoringConfig(mutual_only=True, ratio_threshold=1.05),
    )
    state = str(tmp_path / "gstate_resume")
    first = transcripts.withColumn(
        "_b", F.pmod(F.xxhash64("conv_id"), F.lit(4))
    )
    run_incremental(
        first.where(F.col("_b") <= 1).drop("_b"), cfg, state, n_batches=2
    )
    assert last_complete_batch(state) == 1
    final = run_incremental(transcripts, cfg, state, n_batches=4, resume=True)
    full_state = str(tmp_path / "gstate_full")
    full = run_incremental(transcripts, cfg, full_state, n_batches=4)
    assert _cluster_sets(final) == _cluster_sets(full)
    got = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in accumulated_matches(spark, state).collect()
    }
    want = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in accumulated_matches(spark, full_state).collect()
    }
    assert got == want


def test_global_mode_rereads_bounded_by_neighborhood(spark, tmp_path, monkeypatch):
    """The O(T²) gate for W4 GLOBAL configs: each batch's re-decision
    must run over pairs incident to the batch's affected neighborhood
    only — never the whole accumulated scored tree — and the cluster
    delta ledger must write only the touched region. Fixture: two
    vocab-disjoint communities; batch 2 introduces community B, so its
    re-decision must not read a single community-A pair, while the
    final state still equals the single-shot batch run."""
    from datetime import datetime

    import energy_aware_entity_resolution_spark.streaming.incremental as inc
    from energy_aware_entity_resolution_spark.config import (
        BlockingConfig,
        ScoringConfig,
    )
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        accumulated_matches,
        process_one_batch,
        resolve_clusters,
    )

    def mk_rows(prefix, vocab, ids):
        rows = []
        for i in ids:
            for t in range(3):
                rows.append(
                    (f"{prefix}{i}", t, "user", f"{vocab} turn text",
                     None, datetime(2026, 1, 1, 0, 0, t))
                )
        return rows

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    voc_a = "alpha beta gamma delta epsilon zeta"
    voc_b = "omega sigma upsilon kappa lambda xi"
    batches = [
        mk_rows("a", voc_a, range(4)),          # batch 0: A0..A3
        mk_rows("a", voc_a, range(4, 6)),       # batch 1: A4..A5
        mk_rows("b", voc_b, range(6)),          # batch 2: all of B
    ]
    cfg = PipelineConfig(
        blocking=BlockingConfig(use_sorted_neighborhood=False),
        scoring=ScoringConfig(mutual_only=True, ratio_threshold=1.05),
    )
    state = str(tmp_path / "state_bounded")

    captured = []
    real_decide = inc.decide_matches

    def spy(scored, c):
        captured.append(
            {(r["conv_id_a"], r["conv_id_b"]) for r in scored.collect()}
        )
        return real_decide(scored, c)

    monkeypatch.setattr(inc, "decide_matches", spy)
    # force the neighborhood path: the adaptive gate would route this
    # tiny fixture to the (cheaper-at-small-state) full re-decision
    monkeypatch.setattr(inc, "_FULL_REDECIDE_MAX_RATIO", 0.0)
    for b, rows in enumerate(batches):
        process_one_batch(
            spark, spark.createDataFrame(rows, schema), cfg, state, b
        )
    monkeypatch.undo()

    assert len(captured) == 3
    # batch 2's re-decision region: only community-B pairs
    b2_ids = {cid for pair in captured[2] for cid in pair}
    assert b2_ids and all(cid.startswith("b") for cid in b2_ids)
    # ... and strictly fewer pairs than the accumulated scored tree
    acc_total = spark.read.parquet(f"{state}/scored_rounds").count()
    assert len(captured[2]) < acc_total
    # cluster delta ledger: batch 2 writes only the touched (B) region
    cl2 = spark.read.parquet(f"{state}/clusters/batch=2")
    cl2_ids = {r["conv_id"] for r in cl2.select("conv_id").collect()}
    assert cl2_ids and all(cid.startswith("b") for cid in cl2_ids)

    # equivalence with the single-shot batch run on the full input
    all_rows = [r for rows in batches for r in rows]
    full = run_pipeline(spark.createDataFrame(all_rows, schema), cfg)
    got = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in accumulated_matches(spark, state).collect()
    }
    want = {(r["conv_id_a"], r["conv_id_b"]) for r in full.matches.collect()}
    assert got == want
    assert _cluster_sets(resolve_clusters(spark, state)) == _cluster_sets(
        full.clusters
    )
    full.release()


def test_incremental_distributed_remap_end_to_end(
    spark, transcripts, tmp_path, monkeypatch
):
    """Forcing every connected_components call of the incremental path
    (remap reads and the reduced-graph CC) down the distributed loop
    still converges to the batch partition (merge_step +
    resolve_clusters on the shuffle-join branch)."""
    import energy_aware_entity_resolution_spark.operators.clustering as cl
    import energy_aware_entity_resolution_spark.streaming.incremental as inc

    want = _cluster_sets(run_pipeline(transcripts, PipelineConfig()).clusters)
    monkeypatch.setattr(
        inc,
        "connected_components",
        functools.partial(cl.connected_components, small_graph_threshold=0),
    )

    def _boom(spark, edges):
        raise AssertionError("driver union-find entered at threshold 0")

    monkeypatch.setattr(cl, "_driver_union_find", _boom)
    got = run_incremental(
        transcripts, PipelineConfig(), str(tmp_path / "state_dist"), n_batches=3
    )
    assert _cluster_sets(got) == want


def test_round_evaluation_timeseries(spark, transcripts, labeled_pairs, tmp_path):
    """The streaming-evaluation analog (reference
    evaluation_timeseires.py): per-round P/R/F1 over accumulated match
    deltas — tp monotone in rounds, final round perfect on the planted
    fixture (matching the batch F1 gate)."""
    state = str(tmp_path / "state_ts")
    n_batches = 3
    run_incremental(transcripts, PipelineConfig(), state, n_batches=n_batches)
    truth = labeled_pairs.where(F.col("label") == 1)
    ts = round_evaluation_timeseries(spark, state, truth).collect()
    assert [r["round"] for r in ts] == list(range(n_batches))
    tps = [r["tp"] for r in ts]
    assert tps == sorted(tps)  # deltas only accrue
    final = ts[-1]
    assert final["recall"] == 1.0 and final["precision"] == 1.0


def test_remap_resolution_random_forests(spark, tmp_path, monkeypatch):
    """The remap reader equals pure-Python path compression on seeded
    random merge forests of varying depth/shape (each batch merges
    random current roots, like real incremental CC rounds), on both
    connected_components paths (driver union-find and distributed)."""
    import random

    import energy_aware_entity_resolution_spark.operators.clustering as cl
    import energy_aware_entity_resolution_spark.streaming.incremental as inc

    def _compress(rows):
        parent = dict(rows)

        def find(x):
            while x in parent:
                x = parent[x]
            return x

        return {k: find(k) for k in parent}

    for seed in (1, 2, 3):
        rnd = random.Random(seed)
        state = str(tmp_path / f"rf{seed}")
        roots = [f"n{i:03d}" for i in range(60)]
        ledger = []
        for b in range(rnd.randint(2, 5)):
            rows = []
            # merge a random subset of current roots pairwise
            merged = rnd.sample(roots, k=rnd.randint(2, max(2, len(roots) // 3)))
            for i in range(0, len(merged) - 1, 2):
                a, c = merged[i], merged[i + 1]
                lo, hi = min(a, c), max(a, c)
                rows.append((hi, lo))  # hi demoted into lo
                roots.remove(hi)
            if not rows:
                rows = [("zzz_dummy", "n000")]
            ledger += rows
            spark.createDataFrame(
                rows, "old_root string, new_root string"
            ).write.mode("overwrite").parquet(f"{state}/remaps/batch={b}")
        want = _compress(ledger)
        for threshold in (200_000, 0):
            monkeypatch.setattr(
                inc,
                "connected_components",
                functools.partial(
                    cl.connected_components, small_graph_threshold=threshold
                ),
            )
            got = inc._read_remap_df(spark, state, 10**9).collect()
            assert {r["conv_id"]: r["component_id"] for r in got} == want
            assert len(got) == len(want)
        monkeypatch.undo()


def test_round_timeseries_respects_revokes(spark, tmp_path):
    """Global-mode state: a pair added in round 0 and revoked in round
    1 must count in round 0's metrics and DISAPPEAR from round 1's —
    and uncommitted batches (no done marker) must be invisible."""
    import os

    state = str(tmp_path / "ts_rev")
    os.makedirs(f"{state}/done", exist_ok=True)
    spark.createDataFrame(
        [("a", "b", 0.9, "ratio")],
        "conv_id_a string, conv_id_b string, score double, decision string",
    ).write.parquet(f"{state}/matches/batch=0")
    spark.createDataFrame(
        [], "conv_id_a string, conv_id_b string"
    ).write.parquet(f"{state}/revoked/batch=0")
    spark.createDataFrame(
        [], "conv_id_a string, conv_id_b string, score double, decision string"
    ).write.parquet(f"{state}/matches/batch=1")
    spark.createDataFrame(
        [("a", "b")], "conv_id_a string, conv_id_b string"
    ).write.parquet(f"{state}/revoked/batch=1")
    # an UNCOMMITTED batch 2 re-adding the pair must not be read
    spark.createDataFrame(
        [("a", "b", 0.9, "ratio")],
        "conv_id_a string, conv_id_b string, score double, decision string",
    ).write.parquet(f"{state}/matches/batch=2")
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        accumulated_matches,
        round_evaluation_timeseries,
    )
    from energy_aware_entity_resolution_spark.streaming.state import commit

    for b in (0, 1):
        commit(state, b, "ok")

    truth = spark.createDataFrame(
        [("a", "b")], "conv_id_a string, conv_id_b string"
    )
    ts = {r["round"]: r for r in round_evaluation_timeseries(spark, state, truth).collect()}
    assert ts[0]["tp"] == 1 and ts[1]["tp"] == 0
    assert accumulated_matches(spark, state).count() == 0  # committed view


def test_compaction_resume_after_crash_between_snapshot_and_marker(
    spark, transcripts, tmp_path, monkeypatch
):
    """Fold crash window, all four trees: batch b's folds committed
    (``_SUCCESS`` written) but its commit marker didn't land. The
    resumed batch b rebuilds every fold and must seed each from the
    fold ≤ b-1 — reading the batch=b fold it is about to overwrite
    raises 'Cannot overwrite a path that is also being read from' on
    every resume attempt (permanently wedged state)."""
    import os

    import energy_aware_entity_resolution_spark.streaming.incremental as inc
    import energy_aware_entity_resolution_spark.streaming.state as st
    from energy_aware_entity_resolution_spark.config import (
        BlockingConfig,
        ScoringConfig,
    )
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        accumulated_matches,
    )

    monkeypatch.setattr(st, "FOLD_EVERY", 2)
    cfg = PipelineConfig(
        blocking=BlockingConfig(use_sorted_neighborhood=False),
        scoring=ScoringConfig(mutual_only=True, ratio_threshold=1.05),
    )
    state = str(tmp_path / "crash_state")
    # batches 0..2 of a 4-batch run complete (same pmod batching as
    # run_incremental so the resumed batch 2 holds the same convs);
    # batch 2 is a fold batch for every tree
    batched = transcripts.withColumn(
        "_b", F.pmod(F.xxhash64("conv_id"), F.lit(4))
    )
    for b in range(3):
        inc.process_one_batch(
            spark, batched.where(F.col("_b") == b).drop("_b"), cfg, state, b
        )
    folds = [
        f"{state}/features_compact/batch=2/_SUCCESS",
        f"{state}/scored_rounds_compact/round=2/_SUCCESS",
        f"{state}/matches_compact/batch=2/_SUCCESS",
        f"{state}/clusters_compact/batch=2/_SUCCESS",
    ]
    assert all(os.path.exists(f) for f in folds)
    # simulate the crash: folds committed, commit marker lost
    (marker,) = [
        n for n in os.listdir(f"{state}/done") if n.startswith("_DONE_0002_")
    ]
    os.remove(f"{state}/done/{marker}")
    assert last_complete_batch(state) == 1
    # resume replays batch 2 (rebuilding every fold in place) + 3
    final = run_incremental(transcripts, cfg, state, n_batches=4, resume=True)
    assert all(os.path.exists(f) for f in folds)
    full_state = str(tmp_path / "crash_full")
    full = run_incremental(transcripts, cfg, full_state, n_batches=4)
    assert _cluster_sets(final) == _cluster_sets(full)
    got = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in accumulated_matches(spark, state).collect()
    }
    want = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in accumulated_matches(spark, full_state).collect()
    }
    assert got == want


def test_legacy_state_layout_rejected(spark, tmp_path):
    """A state dir written in an older layout raises ValueError naming
    the dir, from both process_one_batch and resolve_clusters, before
    any Spark job: a bare ``_DONE_N`` marker, a content twin, the count
    ledgers, a plain ``clusters_compact/N`` marker file, and a
    global-mode state with commits but no ``clusters/`` tree."""
    import os
    import re

    import pytest

    from energy_aware_entity_resolution_spark.streaming.incremental import (
        process_one_batch,
        resolve_clusters,
    )
    from energy_aware_entity_resolution_spark.streaming.state import commit

    def touch(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        open(path, "w").close()

    layouts = {
        "bare_marker": ["done/_DONE_0000"],
        "content_twin": ["done/_DONE_C_" + "0" * 32],
        "feat_counts": ["feat_counts/0000"],
        "round_counts": ["round_counts/0000"],
        "cluster_marker_file": ["clusters_compact/16"],
        "global_without_clusters": ["revoked/batch=0/_SUCCESS"],
    }
    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    for name, files in layouts.items():
        state = str(tmp_path / name)
        commit(state, 0, "ok")
        for f in files:
            touch(os.path.join(state, f))
        with pytest.raises(ValueError, match=re.escape(state)):
            process_one_batch(spark, empty, PipelineConfig(), state, 1)
        with pytest.raises(ValueError, match=re.escape(state)):
            resolve_clusters(spark, state)


def test_replay_marker_lookup_is_content_named(spark, transcripts, tmp_path):
    """One empty commit marker per batch, named by the batch and the
    md5 of its marker text, so the replay guard is one listdir. Scoped
    and unscoped callers never match each other's markers: an unscoped
    epoch 0 does not cover a scoped query's epoch 0, and once that
    scoped epoch has run, an unscoped replay of 0 is still skipped."""
    import hashlib
    import os

    from energy_aware_entity_resolution_spark.streaming.structured import (
        make_process_batch,
    )

    def md5(text):
        return hashlib.md5(text.encode()).hexdigest()

    cfg = PipelineConfig()
    state = str(tmp_path / "marker_state")
    scope = str(tmp_path / "ckpt")
    unscoped = make_process_batch(cfg, state)
    scoped = make_process_batch(cfg, state, run_scope=scope)
    unscoped(transcripts, epoch_id=0)
    assert last_complete_batch(state) == 0
    scoped(transcripts, epoch_id=0)  # another query's epoch 0: runs
    assert last_complete_batch(state) == 1
    unscoped(transcripts, epoch_id=0)  # replays: skipped
    scoped(transcripts, epoch_id=0)
    assert last_complete_batch(state) == 1
    assert sorted(os.listdir(f"{state}/done")) == [
        f"_DONE_0000_{md5('0')}",
        f"_DONE_0001_{md5(md5(scope)[:12] + ':0')}",
    ]


def test_feature_and_scored_state_folds(
    spark, transcripts, tmp_path, monkeypatch
):
    """State folds: every K-th batch folds the features tree
    (both modes) and, in global mode, the accumulated scored tree into
    a committed snapshot; accumulated reads then touch the snapshot +
    later deltas only. Proofs: (a) inputFiles of the pruned readers
    contain no pre-fold delta dir; (b) deleting the pre-fold delta
    dirs changes nothing; (c) the folded run's final state equals the
    single-shot batch run."""
    import os
    import shutil

    import energy_aware_entity_resolution_spark.streaming.state as st
    from energy_aware_entity_resolution_spark.config import (
        BlockingConfig,
        ScoringConfig,
    )
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        _accumulated_scored,
        accumulated_features,
        resolve_clusters,
    )

    monkeypatch.setattr(st, "FOLD_EVERY", 2)
    cfg = PipelineConfig(
        blocking=BlockingConfig(use_sorted_neighborhood=False),
        scoring=ScoringConfig(mutual_only=True, ratio_threshold=1.05),
    )
    state = str(tmp_path / "fold_state")
    inc_clusters = run_incremental(transcripts, cfg, state, n_batches=4)
    want = _cluster_sets(inc_clusters)
    batch = run_pipeline(transcripts, cfg)
    assert want == _cluster_sets(batch.clusters)
    batch.release()

    assert os.path.exists(f"{state}/features_compact/batch=2/_SUCCESS")
    assert os.path.exists(f"{state}/scored_rounds_compact/round=2/_SUCCESS")
    # (a) row parity: fold ∪ later deltas == the raw tree, exactly —
    # any pruning bug (filter lost, fold overlapping a delta) shows as
    # a count mismatch. (inputFiles() can't prove file pruning: it
    # lists the relation before partition-filter pushdown.)
    n_feats_raw = (
        spark.read.parquet(f"{state}/features")
        .where(F.col("batch") <= 3)
        .count()
    )
    assert accumulated_features(spark, state, 3).count() == n_feats_raw
    n_scored_raw = (
        spark.read.parquet(f"{state}/scored_rounds")
        .where(F.col("round") <= 3)
        .count()
    )
    assert _accumulated_scored(spark, state, 3).count() == n_scored_raw
    # (b) delete the pre-fold deltas: the pruned readers still resolve
    # the FULL state (same counts, same clusters) — proof they never
    # needed the deleted dirs and the folds carry their rows
    for b in (0, 1):
        shutil.rmtree(f"{state}/features/batch={b}")
        shutil.rmtree(f"{state}/scored_rounds/round={b}")
    assert accumulated_features(spark, state, 3).count() == n_feats_raw
    assert _accumulated_scored(spark, state, 3).count() == n_scored_raw
    assert _cluster_sets(resolve_clusters(spark, state)) == want


def test_feature_fold_resume_and_legacy_ledger(
    spark, transcripts, tmp_path, monkeypatch
):
    """Fold crash window at a later fold + a legacy count ledger.
    (1) A crash after batch 2's folds committed but before its commit
    marker, with batch 1 already folded: the resumed batch 2 rebuilds
    the features and scored folds seeded from the batch=1 fold, never
    the batch=2 fold it overwrites. (2) A ``feat_counts/`` ledger left
    in that crashed state makes the resume raise ValueError before
    writing anything; without it the same resume finishes and equals
    the batch run."""
    import os
    import re
    import shutil

    import pytest

    import energy_aware_entity_resolution_spark.streaming.incremental as inc
    import energy_aware_entity_resolution_spark.streaming.state as st
    from energy_aware_entity_resolution_spark.config import (
        BlockingConfig,
        ScoringConfig,
    )

    monkeypatch.setattr(st, "FOLD_EVERY", 1)
    cfg = PipelineConfig(
        blocking=BlockingConfig(use_sorted_neighborhood=False),
        scoring=ScoringConfig(mutual_only=True, ratio_threshold=1.05),
    )
    state = str(tmp_path / "fold_crash")
    batched = transcripts.withColumn(
        "_b", F.pmod(F.xxhash64("conv_id"), F.lit(4))
    )
    for b in range(3):
        inc.process_one_batch(
            spark, batched.where(F.col("_b") == b).drop("_b"), cfg, state, b
        )
    folds = [
        f"{state}/features_compact/batch={b}/_SUCCESS" for b in (1, 2)
    ] + [f"{state}/scored_rounds_compact/round={b}/_SUCCESS" for b in (1, 2)]
    assert all(os.path.exists(f) for f in folds)
    # crash: batch 2's folds committed, its commit marker lost
    (marker,) = [
        n for n in os.listdir(f"{state}/done") if n.startswith("_DONE_0002_")
    ]
    os.remove(f"{state}/done/{marker}")
    # legacy shape: a pre-StateTree count ledger beside the folds
    os.makedirs(f"{state}/feat_counts")
    open(f"{state}/feat_counts/0000", "w").close()
    with pytest.raises(ValueError, match=re.escape(state)):
        run_incremental(transcripts, cfg, state, n_batches=4, resume=True)
    assert last_complete_batch(state) == 1
    shutil.rmtree(f"{state}/feat_counts")
    final = run_incremental(transcripts, cfg, state, n_batches=4, resume=True)
    assert last_complete_batch(state) == 3
    assert all(os.path.exists(f) for f in folds)
    batch = run_pipeline(transcripts, cfg)
    assert _cluster_sets(final) == _cluster_sets(batch.clusters)
    batch.release()


def test_batch_shuffle_partitions_scoped_and_equal(
    spark, transcripts, tmp_path
):
    """cfg.batch_shuffle_partitions lowers the session's
    shuffle-partition count for each micro-batch and restores it
    after; the final state is identical to the default-partition
    run (the knob changes physical parallelism only)."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    cfg = PipelineConfig(batch_shuffle_partitions=4)
    tuned = run_incremental(
        transcripts, cfg, str(tmp_path / "sp_state"), n_batches=3
    )
    assert spark.conf.get(key) == before  # restored after every batch
    # batch_shuffle_partitions=0 disables scoping entirely; None (the
    # default) DERIVES from the previous batch's feature rows — both must
    # produce identical state (physical parallelism only)
    plain = run_incremental(
        transcripts,
        PipelineConfig(batch_shuffle_partitions=0),
        str(tmp_path / "sp_plain"),
        n_batches=3,
    )
    derived = run_incremental(
        transcripts, PipelineConfig(), str(tmp_path / "sp_derived"), n_batches=3
    )
    assert spark.conf.get(key) == before
    assert _cluster_sets(tuned) == _cluster_sets(plain)
    assert _cluster_sets(derived) == _cluster_sets(plain)


def test_derived_batch_partitions_formula():
    """The default derivation: ~4096 rows/partition, floor 8, capped
    at (and None at or above) the session default."""
    from energy_aware_entity_resolution_spark.streaming.incremental import (
        _derived_batch_partitions,
    )

    assert _derived_batch_partitions(2000, 32) == 8  # floor
    assert _derived_batch_partitions(40_960, 32) == 10
    assert _derived_batch_partitions(10_000_000, 32) is None  # >= default
    assert _derived_batch_partitions(100, 8) is None  # floor == default

