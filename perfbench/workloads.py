"""The benchmark's workloads. Each one generates its inputs from the seed,
warms the engine up, and then runs measured passes through the package's
public functions. A pass returns its timings and the outputs the checks
need; ``check`` turns those into the quality metrics and a list of
failed checks. See NOTES.md for why each workload exists.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from energy_aware_entity_resolution_spark import PipelineConfig
from energy_aware_entity_resolution_spark.operators.assemble import (
    assemble_conversations,
)
from energy_aware_entity_resolution_spark.operators.blocking import (
    featurize,
    lsh_bands,
)
from energy_aware_entity_resolution_spark.operators.candidates import (
    candidate_pairs,
)
from energy_aware_entity_resolution_spark.operators.clustering import (
    connected_components,
)
from energy_aware_entity_resolution_spark.operators.decision import decide_matches
from energy_aware_entity_resolution_spark.operators.dedup import (
    embedding_near_dup_pairs_multipass,
    minhash_dedup_pairs,
)
from energy_aware_entity_resolution_spark.operators.scoring import score_pairs
from energy_aware_entity_resolution_spark.operators.similarity_search import (
    brute_force_topk,
    ivf_topk,
)
from energy_aware_entity_resolution_spark.plans import run_pipeline
from energy_aware_entity_resolution_spark.sources import (
    generate_labeled_pairs,
    generate_transcripts,
)
from energy_aware_entity_resolution_spark.streaming.incremental import (
    process_one_batch,
    read_batch_audit,
    resolve_clusters,
)
from tracing import Meter

# The generator plants, per group of 10 conversations, one 3-member and
# one 2-member duplicate set plus 5 singletons: 7 clusters per 10.
PLANTED_CLUSTERS_PER_CONV = 0.7
PAIR_F1_FLOOR = 0.99
CANDIDATE_RECALL_FLOOR = 0.99
ANN_K = 3
ANN_CELLS = 8
ANN_QUERY_EVERY = 10  # brute-force queries: every 10th conversation
ANN_RECALL_FLOOR = 0.5
DEDUP_RECALL_FLOOR = 0.9
NEAR_DUP_SEEDS = [11, 12]
CLUSTER_RERUNS = 5


class _NullSpan:
    rows_out = 0

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return None


def _span(tracer, layer):
    return tracer.span(layer) if tracer is not None else _NullSpan()


def _labeled(spark, n, seed):
    return [
        (r["conv_id_a"], r["conv_id_b"], r["label"])
        for r in generate_labeled_pairs(spark, n, seed=seed).collect()
    ]


def _cluster_quality(clusters, labeled, n_convs) -> tuple[dict, list[str]]:
    """pair F1 of the clusters against the labeled pairs (a labeled
    negative inside one cluster is a false positive; unlabeled pairs do
    not count), recall on the planted duplicates, and the cluster-count
    check."""
    comp = dict(clusters)
    tp = fp = fn = 0
    for a, b, label in labeled:
        same = comp.get(a) is not None and comp.get(a) == comp.get(b)
        if label == 1:
            tp += same
            fn += not same
        else:
            fp += same
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    failures = []
    if f1 < PAIR_F1_FLOOR:
        failures.append(f"pair_f1 {f1:.4f} < {PAIR_F1_FLOOR}")
    want = round(PLANTED_CLUSTERS_PER_CONV * n_convs)
    got = len(set(comp.values()))
    if len(comp) != n_convs or got != want:
        failures.append(
            f"{len(comp)} conversations in {got} clusters, want {n_convs} in {want}"
        )
    return {"pair_f1": f1, "dedup_recall": recall}, failures


def _positives(labeled, n_convs) -> list[tuple[str, str]]:
    """Planted duplicate pairs among the first n_convs conversations."""
    below = f"conv_{n_convs:08d}"
    return [(a, b) for a, b, label in labeled if label == 1 and b < below]


def _positive_recall(pairs, labeled, n_convs) -> float:
    found = {(a, b) if a < b else (b, a) for a, b in pairs}
    pos = _positives(labeled, n_convs)
    return sum(p in found for p in pos) / len(pos)


def _clusters(features, matches, cfg) -> list[tuple]:
    """run_pipeline's clustering step: connected components over the
    match edges, then every conversation without a match as its own
    cluster; collected."""
    edges = matches.select(
        F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
    )
    comp = connected_components(edges, max_iterations=cfg.cluster.max_iterations)
    return [
        tuple(r)
        for r in features.select("conv_id")
        .join(comp, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce("component_id", F.col("conv_id")).alias("component_id"),
        )
        .collect()
    ]


class BatchPlanted:
    """``run_pipeline`` over the planted transcripts with the default
    config, then the similarity-search and dedup calls over the
    pipeline's own conversation embeddings and assembled text."""

    name = "batch_planted"
    n_convs = 2000
    n_ann = 1000  # the similarity/dedup calls take the first n_ann conversations
    n_warm = 200  # warm-up pipeline input

    def __init__(self, spark, tree, seed, workdir):
        self.spark = spark
        self.tree = tree
        self.seed = seed
        self.cfg = PipelineConfig()

    def setup(self) -> None:
        self.labeled = _labeled(self.spark, self.n_convs, self.seed)
        self.transcripts = generate_transcripts(
            self.spark, self.n_convs, seed=self.seed
        ).persist()
        self.transcripts.count()
        # JVM warm-up: one pipeline run over the first conversations.
        # The similarity/dedup calls are not warmed up: they reuse most
        # of the planner code the pipeline has just run, and warming
        # them too would not fit the run-time budget (NOTES.md).
        warm = self.transcripts.where(F.col("conv_id") < f"conv_{self.n_warm:08d}")
        run_pipeline(warm, self.cfg).release()

    def run_pass(self, tracer=None) -> dict:
        with Meter(self.tree) as meter:
            t0 = time.perf_counter()
            if tracer is None:
                res = run_pipeline(self.transcripts, self.cfg)
                clusters = [tuple(r) for r in res.clusters.collect()]
                t2 = time.perf_counter()
                features, matches, scored = res.features, res.matches, res.scored
                cleanup = res.release
                funnel = None
            else:
                features, matches, scored, clusters, funnel, cleanup = (
                    self._traced_pipeline(tracer)
                )
                t2 = time.perf_counter()
            out = {
                "pipeline_s": t2 - t0,
                "clusters": clusters,
                "funnel": funnel,
            }
            out.update(self._ann_dedup(features, tracer))
        out.update(_metered(meter))
        # one clustering run takes under a second, too short to time
        # steadily once; it reads only the cached matches and features,
        # so it is re-run after the pass and reported as a mean of five
        reruns = []
        for _ in range(CLUSTER_RERUNS):
            tc = time.perf_counter()
            _clusters(features, matches, self.cfg)
            reruns.append(time.perf_counter() - tc)
        out["clusters_s"] = sum(reruns) / len(reruns)
        # candidate recall reads the scored pairs the pass cached: every
        # candidate pair is scored, so these are the blocking output
        positives = self.spark.createDataFrame(
            _positives(self.labeled, self.n_convs),
            "conv_id_a string, conv_id_b string",
        )
        hit = scored.select("conv_id_a", "conv_id_b").join(
            positives, ["conv_id_a", "conv_id_b"]
        ).count()
        out["candidate_recall"] = hit / max(positives.count(), 1)
        cleanup()
        return out

    def _traced_pipeline(self, tracer):
        cfg = self.cfg
        with tracer.span("featurize") as s:
            feats = featurize(assemble_conversations(self.transcripts), cfg).persist()
            s.rows_out = feats.count()
            # featurize hands its intermediate cache to the caller to
            # release once the features are materialized
            for cached in getattr(feats, "_upstream_caches", []):
                cached.unpersist()
        with tracer.span("candidates") as s:
            cands = candidate_pairs(feats, lsh_bands(feats, cfg), cfg).persist()
            s.rows_out = cands.count()
        with tracer.span("scoring") as s:
            scored = score_pairs(cands, feats, cfg).persist()
            s.rows_out = scored.count()
        with tracer.span("decision") as s:
            matches = decide_matches(scored, cfg).persist()
            s.rows_out = matches.count()
        with tracer.span("clustering") as s:
            clusters = _clusters(feats, matches, cfg)
            s.rows_out = len(clusters)
        by_source = cands.select(
            *[
                F.sum(F.array_contains("sources", src).cast("long")).alias(src)
                for src in ("exact", "lsh", "sn", "lsh_salted")
            ],
            F.count("*").alias("pairs"),
        ).first()
        n_matches = tracer.spans[-2]["rows_out"]
        funnel = {
            "candidates.pairs_exact": by_source["exact"] or 0,
            "candidates.pairs_lsh": by_source["lsh"] or 0,
            "candidates.pairs_sn": by_source["sn"] or 0,
            "candidates.pairs_lsh_salted": by_source["lsh_salted"] or 0,
            "candidates.pairs": by_source["pairs"],
            "decision.matches": n_matches,
            "clustering.components": len({c for _, c in clusters}),
            "candidates.match_yield": n_matches / max(by_source["pairs"], 1),
        }

        def cleanup():
            for df in (feats, cands, scored, matches):
                df.unpersist()

        return feats, matches, scored, clusters, funnel, cleanup

    def _ann_dedup(self, features, tracer) -> dict:
        n_convs = self.n_ann
        features = features.where(F.col("conv_id") < f"conv_{n_convs:08d}")
        vecs = features.select(
            F.col("conv_id").alias("vec_id"), F.col("vec").alias("embedding")
        )
        query_ids = [f"conv_{i:08d}" for i in range(0, n_convs, ANN_QUERY_EVERY)]
        queries = vecs.where(F.col("vec_id").isin(query_ids))
        docs = features.select(
            F.col("conv_id").alias("doc_id"), F.col("doc").alias("text")
        )
        with _span(tracer, "ivf_topk") as s:
            ivf = ivf_topk(vecs, k=ANN_K, n_cells=ANN_CELLS).select(
                "query_id", "neighbor_id"
            ).collect()
            s.rows_out = len(ivf)
        with _span(tracer, "brute_force_topk") as s:
            exact = brute_force_topk(vecs, queries, k=ANN_K).select(
                "query_id", "neighbor_id"
            ).collect()
            s.rows_out = len(exact)
        with _span(tracer, "minhash_dedup_pairs") as s:
            mh = [tuple(r) for r in minhash_dedup_pairs(docs).collect()]
            s.rows_out = len(mh)
        with _span(tracer, "embedding_near_dup_pairs_multipass") as s:
            nd = embedding_near_dup_pairs_multipass(
                vecs, rotation_seeds=NEAR_DUP_SEEDS
            ).select("vec_id_a", "vec_id_b").collect()
            s.rows_out = len(nd)
        return {
            "ivf": ivf,
            "exact": exact,
            "minhash_pairs": mh,
            "near_dup_pairs": [tuple(r) for r in nd],
        }

    def check(self, out) -> tuple[dict, list[str]]:
        quality, failures = _cluster_quality(
            out["clusters"], self.labeled, self.n_convs
        )
        per_vec: dict[str, set] = {}
        for q, nb in out["ivf"]:
            per_vec.setdefault(q, set()).add(nb)
        short = sum(len(v) != ANN_K for v in per_vec.values())
        if len(per_vec) != self.n_ann or short:
            failures.append(
                f"ivf_topk: {len(per_vec)} query vectors, {short} without "
                f"exactly {ANN_K} neighbours"
            )
        truth: dict[str, set] = {}
        for q, nb in out["exact"]:
            truth.setdefault(q, set()).add(nb)
        ann_recall = sum(
            len(per_vec.get(q, set()) & nbs) / len(nbs) for q, nbs in truth.items()
        ) / max(len(truth), 1)
        dedup_recall = _positive_recall(
            out["minhash_pairs"], self.labeled, self.n_ann
        )
        if ann_recall < ANN_RECALL_FLOOR:
            failures.append(f"ann_recall {ann_recall:.3f} < {ANN_RECALL_FLOOR}")
        if dedup_recall < DEDUP_RECALL_FLOOR:
            failures.append(
                f"dedup_recall {dedup_recall:.3f} < {DEDUP_RECALL_FLOOR}"
            )
        if out["candidate_recall"] < CANDIDATE_RECALL_FLOOR:
            failures.append(f"candidate recall {out['candidate_recall']:.3f}")
        # exact duplicates (slots 0 and 1 of each group of 10) have equal
        # vectors, so every rotation buckets them together at cosine 1
        found = set(out["near_dup_pairs"])
        missed = sum(
            (f"conv_{g:08d}", f"conv_{g + 1:08d}") not in found
            for g in range(0, self.n_ann, 10)
        )
        if missed:
            failures.append(
                f"embedding_near_dup_pairs_multipass missed {missed} exact duplicates"
            )
        return {
            "pair_f1": quality["pair_f1"],
            "ann_recall": ann_recall,
            "dedup_recall": dedup_recall,
            "wall_s": out["wall_s"],
            "microbatch_p50_s": out["pipeline_s"],
            "resolve_s": out["clusters_s"],
        }, failures


class IncrementalStream:
    """Seeded transcripts split into micro-batches by
    ``pmod(xxhash64(conv_id), n)`` (the ``run_incremental`` split) and
    fed to ``process_one_batch`` with the default config; then
    ``resolve_clusters`` runs. Set-up processes the first batches into a
    template state dir, which also warms the engine up; each measured
    pass copies the template and processes the last batch, which reads
    existing state, as in a running stream."""

    name = "incremental_stream"
    n_convs = 1500
    n_batches = 3
    n_setup_batches = 2

    def __init__(self, spark, tree, seed, workdir):
        self.spark = spark
        self.tree = tree
        self.seed = seed
        self.workdir = workdir
        self.cfg = PipelineConfig()
        self.template = os.path.join(workdir, "state_template")
        self._passes = 0

    def setup(self) -> None:
        self.labeled = _labeled(self.spark, self.n_convs, self.seed)
        self.transcripts = generate_transcripts(
            self.spark, self.n_convs, seed=self.seed
        ).persist()
        self.transcripts.count()
        keyed = self.transcripts.withColumn(
            "_batch", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_batches))
        )
        self.batches = [
            keyed.where(F.col("_batch") == b).drop("_batch")
            for b in range(self.n_batches)
        ]
        for b in range(self.n_setup_batches):
            process_one_batch(self.spark, self.batches[b], self.cfg, self.template, b)

    def run_pass(self, tracer=None) -> dict:
        state = os.path.join(self.workdir, f"state_{self._passes}")
        self._passes += 1
        shutil.copytree(self.template, state)
        walls = []
        with Meter(self.tree) as meter:
            for b in range(self.n_setup_batches, self.n_batches):
                tb = time.perf_counter()
                with _span(tracer, "microbatch"):
                    process_one_batch(self.spark, self.batches[b], self.cfg, state, b)
                walls.append(time.perf_counter() - tb)
            tr = time.perf_counter()
            with _span(tracer, "resolve") as s:
                clusters = self._resolve(state)
                s.rows_out = len(clusters)
            resolve_walls = [time.perf_counter() - tr]
        # resolve_clusters only reads the state, so it is timed twice
        # more after the pass and reported as the median of three
        for _ in range(2):
            tr = time.perf_counter()
            self._resolve(state)
            resolve_walls.append(time.perf_counter() - tr)
        out = {
            "batch_walls": walls,
            "resolve_s": sorted(resolve_walls)[1],
            "clusters": clusters,
        }
        out.update(_metered(meter))
        out["audit"] = [
            r.asDict()
            for r in read_batch_audit(self.spark, state)
            .where(F.col("batch") >= self.n_setup_batches)
            .collect()
        ]
        out["state_bytes"], out["state_files"] = _dir_size(state)
        # every candidate pair of a round is scored and snapshotted in
        # scored_rounds, so its pairs are the blocking output
        scored = self.spark.read.parquet(os.path.join(state, "scored_rounds"))
        out["candidate_recall"] = _positive_recall(
            scored.select("conv_id_a", "conv_id_b").collect(),
            self.labeled,
            self.n_convs,
        )
        shutil.rmtree(state, ignore_errors=True)
        return out

    def _resolve(self, state) -> list[tuple]:
        return [tuple(r) for r in resolve_clusters(self.spark, state).collect()]

    def check(self, out) -> tuple[dict, list[str]]:
        quality, failures = _cluster_quality(
            out["clusters"], self.labeled, self.n_convs
        )
        if out["candidate_recall"] < CANDIDATE_RECALL_FLOOR:
            failures.append(f"candidate recall {out['candidate_recall']:.3f}")
        walls = sorted(out["batch_walls"])
        return {
            "pair_f1": quality["pair_f1"],
            "ann_recall": out["candidate_recall"],
            "dedup_recall": quality["dedup_recall"],
            "wall_s": out["wall_s"],
            "microbatch_p50_s": walls[len(walls) // 2],
            "resolve_s": out["resolve_s"],
        }, failures


def _metered(meter) -> dict:
    return {
        "wall_s": meter.wall_s,
        "cpu_s": meter.cpu_s,
        "peak_rss_bytes": meter.peak_rss_bytes,
    }


def _dir_size(root) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


WORKLOADS = {w.name: w for w in (BatchPlanted, IncrementalStream)}
