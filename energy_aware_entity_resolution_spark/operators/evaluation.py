"""Evaluation: P/R/F1 vs ground truth (SURVEY.md §2.9, §3.3).

Reference: dataprocessing/evaluation.py:197-285 grid-searches
threshold (seuil 0.95..0.05) × top-k (1..10) over the similarity
structure with a driver double-loop. Here the whole grid is ONE Spark
job: pre-rank predicted pairs, crossJoin the (seuil, k) grid (a few
dozen rows — broadcast), aggregate counts per grid cell.

Also the pairwise-decision metrics against labeled pairs used by the
north_rule F1>=0.99 gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pairwise_metrics(matches: DataFrame, labeled: DataFrame) -> dict:
    """Precision/recall/F1 of predicted match pairs against labeled
    pairs (label 1 = match, 0 = hard negative). Pairs are canonical
    (a<b) on both sides. Negatives only count against precision when
    they were labeled (the reference's ground truth has positives only;
    our fixture adds hard negatives — FIXTURES.md §2)."""
    pred = matches.select("conv_id_a", "conv_id_b").withColumn("pred", F.lit(1))
    joined = labeled.join(pred, ["conv_id_a", "conv_id_b"], "left").select(
        "label", F.coalesce("pred", F.lit(0)).alias("pred")
    )
    agg = joined.agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("pred") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("pred") == 1), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("pred") == 0), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg["tp"], agg["fp"], agg["fn"]
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}


def score_label_histogram(
    scored: DataFrame, truth_pairs: DataFrame, bins: int = 20
) -> DataFrame:
    """The data behind the reference's similarity scatter
    (dataprocessing/similarity_anlysis.py:6-44 plots each scored pair
    colored by ground-truth membership): per (score bin, is_match)
    pair counts. The plot is driver-side matplotlib in the reference;
    the distributed analog is this histogram — one join + one groupBy.

    Output: (bin, is_match, n) with bin = floor(score·bins), the top
    boundary folded into the last bin.
    """
    truth = truth_pairs.select("conv_id_a", "conv_id_b").withColumn(
        "is_match", F.lit(1)
    )
    labeled = scored.join(truth, ["conv_id_a", "conv_id_b"], "left").select(
        "score", F.coalesce("is_match", F.lit(0)).alias("is_match")
    )
    bin_col = F.least(
        F.floor(F.col("score") * bins).cast("long"), F.lit(bins - 1).cast("long")
    )
    return (
        labeled.select(bin_col.alias("bin"), "is_match")
        .groupBy("bin", "is_match")
        .agg(F.count("*").alias("n"))
    )


def evaluation_grid(
    scored: DataFrame,
    truth_pairs: DataFrame,
    thresholds: list[float] | None = None,
    ks: list[int] | None = None,
) -> DataFrame:
    """Reference grid search (evaluation.py:235-270) as one job.

    scored: (conv_id_a, conv_id_b, score) canonical pairs.
    truth_pairs: (conv_id_a, conv_id_b) canonical positive pairs.
    Output: (seuil, k, tp, fp, fn, precision, recall, f1).

    Top-k uses dense_rank on the ROUNDED score per source record — the
    reference keeps all neighbors tied at the n-th distinct score
    (T4, evaluation.py:156-163), so ties are all kept, not row-numbered.
    """
    thresholds = thresholds or [round(0.95 - 0.05 * i, 2) for i in range(19)]
    ks = ks or list(range(1, 11))
    spark = scored.sparkSession

    directed = scored.select(
        F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst"), "score"
    ).union(
        scored.select(
            F.col("conv_id_b").alias("src"), F.col("conv_id_a").alias("dst"), "score"
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc(F.round("score", 6)))
    ranked = directed.withColumn("krank", F.dense_rank().over(w))
    # canonical pair with its best (min) rank from either direction
    pair_rank = (
        ranked.select(
            F.least("src", "dst").alias("conv_id_a"),
            F.greatest("src", "dst").alias("conv_id_b"),
            "score",
            "krank",
        )
        .groupBy("conv_id_a", "conv_id_b")
        .agg(F.max("score").alias("score"), F.min("krank").alias("krank"))
    )
    truth = truth_pairs.select("conv_id_a", "conv_id_b").withColumn("is_true", F.lit(1))
    pr = pair_rank.join(truth, ["conv_id_a", "conv_id_b"], "full").select(
        F.coalesce("score", F.lit(-1.0)).alias("score"),
        F.coalesce("krank", F.lit(10**9)).alias("krank"),
        F.coalesce("is_true", F.lit(0)).alias("is_true"),
    )
    grid = spark.createDataFrame(
        [(s, k) for s in thresholds for k in ks], "seuil double, k int"
    )
    cells = pr.crossJoin(F.broadcast(grid)).withColumn(
        "predicted",
        ((F.col("score") >= F.col("seuil")) & (F.col("krank") <= F.col("k"))).cast("int"),
    )
    out = (
        cells.groupBy("seuil", "k")
        .agg(
            F.sum(F.col("predicted") * F.col("is_true")).alias("tp"),
            F.sum(F.col("predicted") * (1 - F.col("is_true"))).alias("fp"),
            F.sum((1 - F.col("predicted")) * F.col("is_true")).alias("fn"),
        )
        .withColumn("precision", F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)))
        .withColumn("recall", F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)))
        .withColumn(
            "f1",
            F.when(
                F.col("precision") + F.col("recall") > 0,
                2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
            ).otherwise(F.lit(0.0)),
        )
    )
    return out
