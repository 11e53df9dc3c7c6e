from __future__ import annotations

import os

import pytest

from energy_aware_entity_resolution_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="er-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            # the fixtures are a few hundred conversations; without a
            # cap the heap grows toward get_spark's default (a quarter
            # of physical memory), more than the suite needs
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "4g"),
        },
    )
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    from energy_aware_entity_resolution_spark.sources import generate_transcripts

    df = generate_transcripts(spark, 200, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def labeled_pairs(spark):
    from energy_aware_entity_resolution_spark.sources import generate_labeled_pairs

    df = generate_labeled_pairs(spark, 200, seed=42).cache()
    df.count()
    return df
