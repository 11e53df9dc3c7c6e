"""Dedup operators + text-analysis functions + similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from energy_aware_entity_resolution_spark.functions.portable_hash import (
    md5_hash60_py,
)
from energy_aware_entity_resolution_spark.functions.textstats import (
    lang_guess_col,
    quality_score_col,
    token_count_col,
)
from energy_aware_entity_resolution_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_col,
)
from energy_aware_entity_resolution_spark.operators.similarity_search import (
    brute_force_topk,
    bucketed_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s0", 44),
        (1, "the quick brown fox jumps over the lazy dog", "en", "s0", 44),  # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog", "en", "s0", 44),  # near dup
        (3, "completely different text about spark engines", "en", "s0", 46),
        (4, "le chat et la souris et le fromage des un", "fr", "s1", 41),
        (5, "der hund und die katze das ist ein haus", "de", "s1", 40),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).cache()


def test_exact_dedup(spark, docs):
    groups = exact_dedup_groups(docs)
    dup = groups.where(F.col("n_dups") > 1).collect()
    assert len(dup) == 1 and dup[0]["keep_id"] == 0 and dup[0]["n_dups"] == 2
    kept = {r["doc_id"] for r in exact_dedup(docs).collect()}
    assert kept == {0, 2, 3, 4, 5}


def test_exact_dedup_hash_is_portable(spark, docs):
    g = exact_dedup_groups(docs).where(F.col("keep_id") == 0).collect()[0]
    assert g["text_hash"] == md5_hash60_py(
        "the quick brown fox jumps over the lazy dog"
    )


def test_minhash_dedup_finds_near_dup(spark, docs):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in minhash_dedup_pairs(docs, k=16, bands=4, rows=4).collect()
    }
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup (J=0.8)
    assert (0, 5) not in pairs and (3, 4) not in pairs


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, ["lang", "source"], 0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] == pytest.approx(7 / 9, abs=0.01)  # 7 shared of 9 distinct
    assert (0, 3) not in pairs


def test_simhash_near_dups_close(spark, docs):
    sh = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", simhash_col(F.col("text"), 32).alias("sh")
        ).collect()
    }
    assert sh[0] == sh[1]  # identical text, identical simhash
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far


def test_simhash_dedup_pairs_pigeonhole_complete(spark, docs):
    """Chunk-banded candidate generation is COMPLETE for Hamming <= d
    (any such pair agrees exactly on one of the d+1 chunks): the
    operator's output equals brute-force Hamming filtering."""
    from itertools import combinations

    from energy_aware_entity_resolution_spark.operators.dedup import (
        simhash_dedup_pairs,
    )

    d = 3
    sh = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", simhash_col(F.col("text"), 32).alias("sh")
        ).collect()
    }
    brute = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for a, b in combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= d
    }
    got = {
        (r["doc_id_a"], r["doc_id_b"], r["hamming"])
        for r in simhash_dedup_pairs(docs, bits=32, max_hamming=d).collect()
    }
    assert got == brute
    assert (0, 1, 0) in got  # the exact dup pair survives


def test_textstats(spark, docs):
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            lang_guess_col(F.col("text")).alias("lang"),
            quality_score_col(F.col("text")).alias("q"),
            token_count_col(F.col("text")).alias("n"),
        ).collect()
    }
    assert out[0]["lang"] == "en"
    assert out[4]["lang"] == "fr"
    assert out[5]["lang"] == "de"
    assert out[0]["n"] == 9
    assert 0.0 <= out[0]["q"] <= 1.0


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(4, 8))
    rows = []
    for i in range(40):
        v = base[i % 4] + rng.normal(scale=0.1, size=8)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_brute_force_topk(spark, vectors):
    q = vectors.where(F.col("vec_id") < 4)
    out = brute_force_topk(vectors, q, k=3)
    rows = out.collect()
    assert len(rows) == 12
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, nbrs in by_q.items():
        assert [r["rank"] for r in sorted(nbrs, key=lambda r: r["rank"])] == [1, 2, 3]
        # same-cluster vectors should dominate the top ranks
        top = min(nbrs, key=lambda r: r["rank"])
        assert top["neighbor_id"] % 4 == qid % 4


def test_bucketed_topk_approximates_brute_force(spark, vectors):
    brute = brute_force_topk(vectors, vectors, k=1)
    approx = bucketed_topk(vectors, k=1, n_bits=2)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # recall of top-1 under 2-bit LSH on clustered data should be high
    assert len(a & b) / len(b) >= 0.6


def test_ivf_assignment_and_topk(spark, vectors):
    from energy_aware_entity_resolution_spark.operators.similarity_search import (
        ivf_assign,
        ivf_topk,
    )

    from energy_aware_entity_resolution_spark.operators.similarity_search import (
        ivf_centroids,
    )

    cent_ids = {
        r["cell_id"] for r in ivf_centroids(vectors, 4).collect()
    }
    assert len(cent_ids) == 4  # deterministic hash-ordered sample
    assigned = ivf_assign(vectors, n_cells=4)
    rows = {r["vec_id"]: r["cell_id"] for r in assigned.collect()}
    assert len(rows) == 40 and set(rows.values()) <= cent_ids
    # each sampled centroid is its own nearest centroid (cosine 1.0)
    for c in cent_ids:
        assert rows[c] == c
    # vectors cluster around 4 bases (vec i ~ base[i % 4]); when the
    # sample covers all four residue classes the quantizer must
    # recover the grouping (vectors land with a same-class centroid)
    if len({c % 4 for c in cent_ids}) == 4:
        agree = sum(1 for v, c in rows.items() if v % 4 == c % 4)
        assert agree >= 35
    out = ivf_topk(vectors, k=2, n_cells=4)
    for r in out.collect():
        assert r["rank"] in (1, 2)
        assert rows[r["query_id"]] == rows[r["neighbor_id"]]  # same cell only


def test_near_dup_pairs_verified(spark, docs):
    """LSH-candidates + exact-Jaccard verification: finds the exact and
    near duplicate pairs, scores them with true Jaccard, and never
    emits below-threshold pairs."""
    from energy_aware_entity_resolution_spark.operators.dedup import (
        near_dup_pairs_verified,
    )

    out = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in near_dup_pairs_verified(docs, threshold=0.7).collect()
    }
    assert out[(0, 1)] == 1.0  # exact dup pair
    assert (0, 2) in out and 0.7 <= out[(0, 2)] < 1.0  # near dup
    assert all(j >= 0.7 for j in out.values())
    assert not any(3 in p or 4 in p or 5 in p for p in out)  # unrelated docs


def test_embedding_near_dup_pairs_properties(spark):
    """Embedding-cosine near-dup: canonical pairs, cosine >= threshold,
    each pair at most once (single bucket ownership), and planted
    near-identical vectors are recovered."""
    import numpy as np

    from energy_aware_entity_resolution_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(3)
    rows = []
    for i in range(40):
        base = rng.normal(size=8)
        rows.append((2 * i, [float(x) for x in base]))
        rows.append((2 * i + 1, [float(x) for x in base + rng.normal(size=8) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_near_dup_pairs(df, threshold=0.99, n_bits=3).collect()
    assert all(r["vec_id_a"] < r["vec_id_b"] for r in got)
    assert all(r["cosine"] >= 0.99 for r in got)
    pairs = [(r["vec_id_a"], r["vec_id_b"]) for r in got]
    assert len(pairs) == len(set(pairs))  # emitted once
    planted = {(2 * i, 2 * i + 1) for i in range(40)}
    # twins share signs except hairline boundary cases -> high recall
    assert len(planted & set(pairs)) >= 35


def test_embedding_near_dup_multipass_recall_monotone(spark):
    """Multi-pass rotated LSH on a correlated-dimension fixture
    (all-positive orthant — the case where any single rotation splits
    some boundary twins): union of verified pairs across rotation
    seeds must be monotone in passes, strictly better than the worst
    single pass, and reach near-full recall of the planted twins —
    with precision 1.0 throughout (pairs are exact-cosine verified)."""
    import numpy as np

    from energy_aware_entity_resolution_spark.operators.dedup import (
        embedding_near_dup_pairs_multipass,
    )

    rng = np.random.default_rng(5)
    rows = []
    for i in range(60):
        base = np.abs(rng.normal(size=8)) + 0.3  # correlated: all positive
        rows.append((2 * i, [float(x) for x in base]))
        rows.append(
            (2 * i + 1, [float(x) for x in base + rng.normal(size=8) * 0.1])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planted = {(2 * i, 2 * i + 1) for i in range(60)}
    seeds = [11, 22, 33, 44]
    recalls = []
    for n in range(1, len(seeds) + 1):
        got = embedding_near_dup_pairs_multipass(
            df, seeds[:n], threshold=0.97, n_bits=10
        ).collect()
        pairs = {(r["vec_id_a"], r["vec_id_b"]) for r in got}
        assert all(r["cosine"] >= 0.97 for r in got)  # verified: no fp
        recalls.append(len(planted & pairs) / len(planted))
    # tuned so a single pass genuinely splits boundary twins (measured
    # 0.733 -> 0.9 -> 0.983 -> 1.0): the growth is real, not flat-1.0
    assert recalls[0] < 0.9
    assert recalls == sorted(recalls)  # monotone in passes
    assert recalls[-1] > recalls[0]
    assert recalls[-1] >= 0.95


def test_embedding_near_dup_multipass_degenerate(spark):
    import pytest

    from energy_aware_entity_resolution_spark.operators.dedup import (
        embedding_near_dup_pairs_multipass,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no seeds"):
        embedding_near_dup_pairs_multipass(empty, [])
    assert embedding_near_dup_pairs_multipass(empty, [1, 2]).count() == 0


def test_embedding_near_dup_salted_cap_equals_plain(spark):
    """Skew defense: a degenerate population (300 near-identical
    vectors -> ONE hot LSH bucket) must route through the salted
    self-join when the bucket exceeds max_bucket_rows, producing
    EXACTLY the uncapped join's verified pairs (recall-preserving) —
    the lsh_pairs count-first-cap pattern applied to the embedding
    path."""
    import numpy as np

    from energy_aware_entity_resolution_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=8)
    rows = [
        (i, [float(x) for x in base + rng.normal(size=8) * 0.01])
        for i in range(300)
    ]
    rows += [
        (1000 + i, [float(x) for x in rng.normal(size=8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plain = embedding_near_dup_pairs(df, threshold=0.9, n_bits=3)
    salted = embedding_near_dup_pairs(
        df, threshold=0.9, n_bits=3, max_bucket_rows=50, salt_buckets=4
    )
    p = {(r["vec_id_a"], r["vec_id_b"], r["cosine"]) for r in plain.collect()}
    s = {(r["vec_id_a"], r["vec_id_b"], r["cosine"]) for r in salted.collect()}
    assert len(p) >= 300 * 299 // 2  # the hot bucket's pairs are all real
    assert s == p


def test_bucketed_topk_salted_cap_equals_plain(spark, vectors):
    """Index-side bucket salting under the cap must not change the
    top-k output (each candidate pair appears exactly once across
    sub-buckets), including under multi-probe query fan-out."""
    plain = bucketed_topk(vectors, k=3, n_bits=2, probe_hamming=1)
    salted = bucketed_topk(
        vectors, k=3, n_bits=2, probe_hamming=1,
        max_bucket_rows=5, salt_buckets=4,
    )
    p = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in plain.collect()}
    s = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in salted.collect()}
    assert p  # the fixture buckets are all above the tiny cap
    assert s == p
