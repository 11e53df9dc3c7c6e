"""Small parity operators completing the SURVEY.md §2 inventory.

Each maps 1:1 to a reference behavior that the main pipeline doesn't
otherwise need; kept together so the coverage is auditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def cross_source_filter(pairs: DataFrame, entities: DataFrame) -> DataFrame:
    """J10: keep only A↔B candidate pairs for two-source linkage
    (reference filter_result, dynamic_entity_resolution.py:423-448
    uses id ranges; here an explicit source column).

    entities: (conv_id, source); pairs: (conv_id_a, conv_id_b, ...).
    """
    src = entities.select("conv_id", "source")
    a = src.select(
        F.col("conv_id").alias("conv_id_a"), F.col("source").alias("source_a")
    )
    b = src.select(
        F.col("conv_id").alias("conv_id_b"), F.col("source").alias("source_b")
    )
    return (
        pairs.join(a, "conv_id_a")
        .join(b, "conv_id_b")
        .where(F.col("source_a") != F.col("source_b"))
        .drop("source_a", "source_b")
    )


def load_ground_truth_csv(spark: SparkSession, path: str) -> DataFrame:
    """S9: parse `a,b` match-pair lines (reference
    dataprocessing/evaluation.py:15-29, including its '_'→'__' id
    fixup) into canonical labeled pairs."""
    raw = spark.read.csv(path).toDF("a", "b")
    fix = lambda c: F.regexp_replace(F.trim(c), r"^idx_(?!_)", "idx__")  # noqa: E731
    return raw.select(
        F.least(fix(F.col("a")), fix(F.col("b"))).alias("conv_id_a"),
        F.greatest(fix(F.col("a")), fix(F.col("b"))).alias("conv_id_b"),
        F.lit(1).alias("label"),
    ).dropDuplicates(["conv_id_a", "conv_id_b"])
