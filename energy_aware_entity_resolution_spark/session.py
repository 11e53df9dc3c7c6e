"""SparkSession factory tuned for the ER workload.

Reference analog: the reference's "session" is just process start-up in
main.py (no engine to configure). Here the knobs matter: AQE for skew
joins on hot blocks, Arrow for the pandas-UDF boundary, shuffle
partitions sized to cores (local mode) — at cluster scale these come
from spark-submit conf instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """A quarter of physical memory, between 1 GiB and 48 GiB.

    In local mode the driver JVM is the only executor, but the pandas-UDF
    Python workers and the rest of the host need memory too, and the
    heap grows toward its limit before it collects — so a fixed large
    default starves small hosts. ``SPARK_DRIVER_MEM`` overrides it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = min(max(phys // 4 // 2**20, 1024), 48 * 1024)
    return f"{mb}m"


def get_spark(
    app_name: str = "energy_aware_entity_resolution_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with ER-appropriate defaults.

    In local mode shuffle partitions default to the core count; on a
    real cluster pass ``shuffle_partitions`` (or rely on AQE coalesce)
    sized to ~2-3x total executor cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = (os.cpu_count() or 8) if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: the driver JVM is the only executor — give it
        # real memory (ignored if a JVM already exists in-process)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by BYTES; ER pair rows are
        # compute-dense (Levenshtein DP, set intersections per pair), so
        # byte-based coalescing below the core count starves the
        # heaviest projections (measured: the 1.3M-pair scoring stage
        # coalesced to 16 of 32 cores — OPTIMIZATION_r06.md). A smaller
        # floor keeps coalescing for genuinely tiny stages but lets
        # compute-dense ones use full parallelism; same semantics at
        # any cluster size (parallelismFirst still caps at default
        # parallelism), overridable for byte-bound workloads.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ER pair explosion produces many small output rows per input
        # row; cap input split size so tasks stay balanced at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
