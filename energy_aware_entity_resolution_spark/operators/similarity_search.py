"""Similarity search over an embedding column (array<float>).

Replaces the reference's FAISS IndexFlatIP (SURVEY.md J7/J8,
dynamic_entity_resolution.py:10-215) with Spark-native strategies:

- brute_force_topk: exact top-k cosine — crossJoin with a BROADCAST
  query side + window top-k. The baseline; correct at any scale where
  |queries| is broadcastable.
- sign_lsh_buckets / bucketed_topk: random-hyperplane LSH (axis-sign
  buckets, oracle-portable) so the join only explores same-bucket
  candidates — the 100 TB path. Bucket cardinality SCALES WITH N
  (n_bits=None derives ceil(log2(N / target_bucket_rows)) so the
  within-bucket self-join stays ~quadratic-in-constant, not in N);
  recall < 1 by construction, recovered by multi-probe over
  Hamming-adjacent buckets (probe_hamming=1 probes n_bits+1 buckets).
- ivf_*: coarse-quantized inverted-file search. Centroids are a
  deterministic hash-ordered sample (scale-safe TakeOrdered, oracle-
  portable) optionally refined by Lloyd iterations (ivf_centroids;
  float-sum order makes refined centroids run-deterministic only up to
  ulp, so the oracle checks the sampled variant and pytest checks
  refined recall). n_cells=None derives N / target_cell_rows; queries
  probe their nprobe nearest cells.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from energy_aware_entity_resolution_spark.functions.embeddings import (
    dot_col,
    norm_col,
)
from energy_aware_entity_resolution_spark.functions.portable_hash import (
    md5_hash60_col,
)


def _dim_of(df: DataFrame, vec_col: str) -> int | None:
    """Static vector length (one cheap head() action) — lets the
    cosine/dot expressions unroll into codegen-able arithmetic chains
    instead of interpreted higher-order folds (embeddings.dot_col).
    None on an empty table → callers fall back to the fold."""
    row = df.select(vec_col).head()
    if row is None or row[0] is None:
        return None
    return len(row[0])


def _spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin a too-few-splits input (single-file/row-group scans
    run as ONE task — guide §2.5) up to the session's parallelism so
    the per-row vector work (cast, norm, bucket bits, dots) runs wide;
    a no-op for any input that already scans with enough splits."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def _cosine(a, b, dim: int | None = None):
    # widen to double BEFORE multiplying: float*float products lose
    # bits that can flip the 6th rounded decimal vs engines that
    # accumulate in double (the DuckDB oracle does)
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return F.round(
        dot_col(ad, bd, dim)
        / F.greatest(norm_col(ad, dim) * norm_col(bd, dim), F.lit(1e-12)),
        6,
    )


def _cosine_prenorm(ad, bd, na, nb, dim: int | None):
    """Per-pair cosine with PRE-COMPUTED double arrays and norms: the
    join sides cast + take their norm once per row (guide §2.3 "project
    before the exchange"), so each joined pair pays only the unrolled
    dot + one multiply instead of two casts + two norms + dot. Values
    are bit-identical to _cosine: the norm is the same expression over
    the same array, evaluated earlier."""
    return F.round(dot_col(ad, bd, dim) / F.greatest(na * nb, F.lit(1e-12)), 6)


def _with_vec_norm(df: DataFrame, vec_col: str, dim: int | None, prefix: str):
    """(df + <prefix>d double array + <prefix>n norm) for join sides."""
    vd = F.col(vec_col).cast("array<double>")
    return df.withColumn(f"{prefix}d", vd).withColumn(
        f"{prefix}n", norm_col(F.col(f"{prefix}d"), dim)
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against all vectors.

    queries must be small (broadcast); vectors can be arbitrarily
    large — the crossJoin is a BroadcastNestedLoopJoin, no shuffle of
    the big side.
    """
    dim = _dim_of(vectors, vec_col)
    vectors = _spread_scan(vectors)
    q = _with_vec_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv",
        dim,
        "_q",
    ).drop("qv")
    v = _with_vec_norm(
        vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vv")),
        "vv",
        dim,
        "_v",
    ).drop("vv")
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_prenorm(
                F.col("_qd"), F.col("_vd"), F.col("_qn"), F.col("_vn"), dim
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _auto_bits(n: int, target_bucket_rows: int) -> int:
    return max(1, min(24, math.ceil(math.log2(max(n / target_bucket_rows, 2)))))


def sign_lsh_buckets(
    vectors: DataFrame,
    n_bits: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_rows: int = 4096,
    rotation_seed: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH bucket assignment.

    Default (rotation_seed=None): AXIS-ALIGNED planes — bucket = sign
    bits of the first n_bits coordinates. Deterministic and
    SQL-portable (keeps the DuckDB oracle trivial); fine for
    feature-hashed vectors whose coordinates are ~independent, but
    correlated dimensions of real embedding models skew bucket
    occupancy (most mass lands in few buckets).

    rotation_seed=K opts into GENERAL seeded hyperplanes: plane j is a
    fixed standard-normal direction (numpy RandomState(K)), and bit j =
    sign(<r_j, v>). The dot products are JVM column folds over literal
    plane arrays — no UDF, no shuffle; costs one head() action to read
    the vector dimension. Charikar's SimHash family — bucket collision
    probability depends only on the angle, immune to coordinate
    correlation.

    n_bits=None derives it from the table size so expected bucket
    occupancy ≈ target_bucket_rows — a CONSTANT n_bits makes the
    within-bucket self-join O((N/2^bits)²), quadratic in N; scaling
    bits with log2(N) keeps it linear. Costs one count() action.
    """
    if n_bits is None:
        n_bits = _auto_bits(vectors.count(), target_bucket_rows)
    vectors = _spread_scan(vectors)
    bucket = F.lit(0)
    if rotation_seed is None:
        for j in range(n_bits):
            bucket = bucket + F.when(
                F.element_at(F.col(vec_col), j + 1) > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
    else:
        if dim is None:  # callers that know the dim skip this action
            dim = _dim_of(vectors, vec_col) or 0
        planes = np.random.RandomState(rotation_seed).standard_normal(
            (n_bits, max(dim, 1))
        )
        vd = F.col(vec_col).cast("array<double>")
        for j in range(n_bits):
            plane = F.array(*[F.lit(float(x)) for x in planes[j, :dim]])
            # dim-known dot: single index-fold over the literal plane
            # array (embeddings.dot_col) — no per-row zip_with products
            # array
            bucket = bucket + F.when(
                dot_col(vd, plane, dim) > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
    return vectors.select(
        F.col(id_col), F.col(vec_col), bucket.alias("bucket")
    )


def bucketed_topk(
    vectors: DataFrame,
    k: int = 5,
    n_bits: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
    target_bucket_rows: int = 4096,
    rotation_seed: int | None = None,
    max_bucket_rows: int = 16384,
    salt_buckets: int = 8,
) -> DataFrame:
    """Approximate all-pairs top-k: equi-join within LSH buckets.

    probe_hamming=1 multi-probes: each query additionally searches the
    n_bits buckets at Hamming distance 1 from its own (sign flips of
    one hyperplane — where near-boundary neighbors land), recovering
    most of the recall a single-bucket probe loses. Join stays an
    equi-join; the query side fans out ×(n_bits+1), the index side is
    untouched. rotation_seed opts into general seeded hyperplanes for
    correlated-dimension embeddings (see sign_lsh_buckets).

    SKEW DEFENSE (lsh_pairs' count-first pattern, candidates.py:93-160):
    a degenerate population concentrating mass in one bucket would
    otherwise make every probe of that bucket one uncapped join task.
    Index rows of buckets above max_bucket_rows are deterministically
    salted into salt_buckets sub-buckets; a query probing a hot bucket
    fans out over all its sub-buckets (small buckets keep salt 0, no
    fan-out), so the join key (bucket, _salt) bounds every task at
    ~max(bucket_rows/s) while each (query, neighbor) candidate still
    appears exactly once — output identical to the uncapped join. The
    hot-key set broadcasts (skew means FEW hot buckets; auto-n_bits
    keeps expected occupancy ≪ the cap)."""
    if n_bits is None:
        n_bits = _auto_bits(vectors.count(), target_bucket_rows)
    dim = _dim_of(vectors, vec_col)
    b = sign_lsh_buckets(
        vectors, n_bits, id_col, vec_col, rotation_seed=rotation_seed, dim=dim
    )
    # hot-bucket keys collected to the driver (small by construction —
    # see docstring; they were being collected into a broadcast relation
    # anyway): membership becomes an InSet filter, removing two
    # broadcast joins; with no hot bucket the salt machinery vanishes
    # from the plan entirely — identical output either way (guide §2.4)
    big = [
        r["bucket"]
        for r in b.groupBy("bucket")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > max_bucket_rows)
        .select("bucket")
        .collect()
    ]
    s = salt_buckets
    masks = [0] + ([1 << j for j in range(n_bits)] if probe_hamming >= 1 else [])
    a_side = (
        _with_vec_norm(
            b.select(
                F.col("bucket"),
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("qv"),
            ),
            "qv",
            dim,
            "_q",
        )
        .drop("qv")
        .withColumn("_m", F.explode(F.array(*[F.lit(m) for m in masks])))
        .select(
            F.col("bucket").bitwiseXOR(F.col("_m")).alias("bucket"),
            "query_id",
            "_qd",
            "_qn",
        )
    )
    b_side = _with_vec_norm(
        b.select(
            F.col("bucket"),
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("vv"),
        ),
        "vv",
        dim,
        "_v",
    ).drop("vv")
    join_keys = ["bucket"]
    if big:
        join_keys = ["bucket", "_salt"]
        a_side = a_side.withColumn(
            "_salt",
            F.explode(
                F.when(
                    F.col("bucket").isin(big), F.sequence(F.lit(0), F.lit(s - 1))
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        b_side = b_side.withColumn(
            "_salt",
            F.when(
                F.col("bucket").isin(big),
                F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(s)).cast("int"),
            ).otherwise(F.lit(0)),
        )
    scored = (
        a_side.join(b_side, join_keys)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_prenorm(
                F.col("_qd"), F.col("_vd"), F.col("_qn"), F.col("_vn"), dim
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 0,
) -> DataFrame:
    """(cell_id, cv) centroid table.

    iters=0: deterministic hash-ordered sample — the n_cells rows with
    the smallest md5-60bit(id) (a uniform pseudo-random sample any
    engine can reproduce; planned as TakeOrderedAndProject — a
    distributed top-k, never a global sort). iters>0 refines with Lloyd
    steps (assign → per-cell element-wise mean), each one broadcast
    join + one groupBy; empty cells keep their previous centroid.
    Float-mean partial-sum order makes refined centroids deterministic
    only up to ulp — use iters=0 where bit-reproducibility matters.
    """
    cents = (
        vectors.select(
            F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cv")
        )
        .orderBy(
            md5_hash60_col(F.col("cell_id").cast("string")), F.col("cell_id")
        )
        .limit(n_cells)
    )
    if iters <= 0:
        return cents
    dim = len(vectors.select(vec_col).head()[0])
    for _ in range(iters):
        assigned = ivf_assign(vectors, None, id_col, vec_col, centroids=cents)
        means = assigned.groupBy("cell_id").agg(
            F.array(
                *[
                    F.avg(F.element_at(F.col(vec_col), d + 1)).cast("float")
                    for d in range(dim)
                ]
            ).alias("mv")
        )
        cents = (
            cents.join(means, "cell_id", "left")
            .select("cell_id", F.coalesce("mv", F.col("cv")).alias("cv"))
        )
    return cents


def ivf_assign(
    vectors: DataFrame,
    n_cells: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
    target_cell_rows: int = 4096,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nprobe
    nearest centroids.

    Default centroids = ivf_centroids(iters=0) (hash-sampled,
    oracle-portable); pass a refined table for k-means cells.
    n_cells=None derives N / target_cell_rows (one count action) —
    constant cell counts make the within-cell join quadratic in N.
    The centroid set is tiny and broadcast; assignment is one
    broadcast-join + windowed argmax, no shuffle of the big side.
    """
    if centroids is None:
        if n_cells is None:
            n_cells = max(1, round(vectors.count() / target_cell_rows))
        centroids = ivf_centroids(vectors, n_cells, id_col, vec_col)
    dim = _dim_of(vectors, vec_col)
    # materialize the tiny centroid+norm table (eager localCheckpoint):
    # projecting the norm onto the sampled-centroid plan would defeat
    # the TakeOrderedAndProject pattern — the hash-ordered sample then
    # plans as a FULL global sort of the vector table (2 extra
    # exchanges, O(N log N) at scale; seen in plans/r06). The
    # checkpoint also computes shared/refined centroids exactly once
    # per assign instead of once per consumer subtree.
    cents = _with_vec_norm(centroids, "cv", dim, "_c").localCheckpoint(
        eager=True
    )
    scored = _with_vec_norm(vectors, vec_col, dim, "_v").crossJoin(
        F.broadcast(cents)
    ).select(
        id_col,
        vec_col,
        "cell_id",
        _cosine_prenorm(
            F.col("_vd"), F.col("_cd"), F.col("_vn"), F.col("_cn"), dim
        ).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("csim"), F.asc("cell_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .select(id_col, vec_col, "cell_id", "rn")
    )


def ivf_topk(
    vectors: DataFrame,
    k: int = 3,
    n_cells: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
    target_cell_rows: int = 4096,
) -> DataFrame:
    """IVF-bucketed approximate top-k: each query searches its nprobe
    nearest cells; the index side stays single-cell (a vector is OWNED
    by exactly one cell, so probed pairs are already distinct). The
    reference's FAISS flat index re-expressed as partitioned search;
    recall rises with nprobe / falls with n_cells. n_cells=None derives
    N / target_cell_rows (same contract as ivf_assign — a constant cell
    count would make the within-cell join quadratic in N)."""
    if centroids is None:
        if n_cells is None:
            n_cells = max(1, round(vectors.count() / target_cell_rows))
        centroids = ivf_centroids(vectors, n_cells, id_col, vec_col)
    dim = _dim_of(vectors, vec_col)
    owned = ivf_assign(vectors, None, id_col, vec_col, centroids=centroids)
    probes = (
        ivf_assign(vectors, None, id_col, vec_col, centroids=centroids, nprobe=nprobe)
        if nprobe > 1
        else owned
    )
    a = _with_vec_norm(
        probes.select(
            "cell_id", F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        "qv",
        dim,
        "_q",
    ).drop("qv")
    b = _with_vec_norm(
        owned.select(
            "cell_id", F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vv")
        ),
        "vv",
        dim,
        "_v",
    ).drop("vv")
    scored = (
        a.join(b, "cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_prenorm(
                F.col("_qd"), F.col("_vd"), F.col("_qn"), F.col("_vn"), dim
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
