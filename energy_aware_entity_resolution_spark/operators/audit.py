"""Match-state audit + per-partition lineage metrics (SURVEY.md §2.7
A6, FIXTURES.md §4; reference match_gouvernance/match_state.py:5-63 and
Prometheus counters dataprocessing/metrics.py:3-21).

The reference versions every pair decision in an in-memory dict; here
it is an append-only table, one row per decision with its ts and
run_id. Lineage rows are per-partition row counts + driver-side
wall time per stage — written to the audit store (parquet dir standing
in for the Iceberg audit table; sources/catalog.py abstracts that).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def match_state(decided: DataFrame, stage: str, run_id: str) -> DataFrame:
    """Scored/decided pairs -> match-state rows (README.md:40-48 schema:
    pair_key, ts, score, stage PM/CM, decision, transaction, active;
    the reference's per-pair ``version`` is not materialized — order
    a pair's rows by ts instead)."""
    return decided.select(
        F.struct(
            F.col("conv_id_a").alias("a"), F.col("conv_id_b").alias("b")
        ).alias("pair_key"),
        F.current_timestamp().alias("ts"),
        F.col("score").cast("double").alias("score"),
        F.lit(stage).alias("stage"),
        F.col("decision"),
        F.lit("commit").alias("transaction"),
        F.lit(True).alias("active"),
        F.lit(run_id).alias("run_id"),
    )


def partition_lineage(df: DataFrame, stage: str, run_id: str) -> DataFrame:
    """Per-partition row counts for a stage (lineage schema
    FIXTURES.md: run_id, stage, partition_id, rows_in/out, wall_ms, ts).

    Uses spark_partition_id + groupBy — declarative, no accumulators
    (accumulator deltas from Python workers are not exactly-once).
    """
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col("_pid").alias("partition_id"),
            F.col("count").alias("rows_out"),
            F.current_timestamp().alias("ts"),
        )
    )


def _jvm_cpu_ns(spark) -> int | None:
    """Cumulative CPU time of the Spark JVM process (ns). In local mode
    the JVM *is* every executor, so per-stage deltas are a direct
    CPU-energy proxy — the engine's analog of the reference's
    codecarbon/pyJoules metering (reference main.py:8-9,235). On a real
    cluster, executor CPU comes from Spark's task metrics instead."""
    try:
        pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())  # type: ignore[union-attr]
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
        # fields after comm: utime is idx 11, stime idx 12 (0-based)
        ticks = int(parts[11]) + int(parts[12])
        hz = os.sysconf("SC_CLK_TCK")
        return int(ticks * (1_000_000_000 // hz))
    except Exception:
        return None


# CPU energy per core-thread-second (J): the reference meters real
# power with Ecofloc/codecarbon (README.md:21, main.py:8-9,235); no
# RAPL/power interface exists in this sandbox, so the engine reports
# an explicit MODELED estimate: cpu_s x this constant. Default ≈ a
# server-class core's active power share (override per deployment).
CPU_WATTS_PER_CORE = 5.0


@dataclass
class StageMetrics:
    """Driver-side per-stage wall/CPU/energy metrics collector (the
    engine's stand-in for the reference's Prometheus counters +
    Ecofloc energy meter; energy is cpu_s-based and explicitly a
    model, see CPU_WATTS_PER_CORE)."""

    run_id: str
    rows: list[dict] = field(default_factory=list)
    spark: object | None = None
    watts_per_core: float = CPU_WATTS_PER_CORE
    _last_cpu_ns: int | None = None

    def start(self) -> float:
        if self.spark is not None:
            self._last_cpu_ns = _jvm_cpu_ns(self.spark)
        return time.monotonic()

    def record(self, stage: str, t0: float, n_rows: int | None = None) -> None:
        cpu_s = None
        if self.spark is not None:
            now = _jvm_cpu_ns(self.spark)
            if now is not None and self._last_cpu_ns is not None:
                cpu_s = (now - self._last_cpu_ns) / 1e9
            self._last_cpu_ns = now
        self.rows.append(
            {
                "run_id": self.run_id,
                "stage": stage,
                "wall_ms": (time.monotonic() - t0) * 1000.0,
                "cpu_s": cpu_s,
                "energy_j": (
                    cpu_s * self.watts_per_core if cpu_s is not None else None
                ),
                "rows": n_rows,
            }
        )

    def to_df(self, spark) -> DataFrame:
        return spark.createDataFrame(
            [
                (
                    r["run_id"],
                    r["stage"],
                    float(r["wall_ms"]),
                    r.get("cpu_s"),
                    r.get("energy_j"),
                    r["rows"],
                )
                for r in self.rows
            ],
            schema=(
                "run_id string, stage string, wall_ms double, cpu_s double,"
                " energy_j double, rows long"
            ),
        )
