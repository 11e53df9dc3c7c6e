"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_planted --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. It starts a local
Spark session at local[<usable cores>], generates the workload's inputs
from the seed, warms the engine up, measures whole passes for about
``--seconds`` seconds (at least one pass), checks the outputs, and prints
one JSON object as the last line of standard output:

- ``--trace 0``: the end-to-end metrics (medians over the passes);
- ``--trace 1``: the per-layer metrics of one traced pass, with the
  event log on, plus the tracing overhead against an untraced pass.

It exits 1 when a check fails (after printing the result), 2 when the
package is missing or the workload is unknown, and non-zero without a
result when set-up or a pass raises. NOTES.md describes the workloads
and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "energy_aware_entity_resolution_spark"

LAYERS = [
    "featurize", "candidates", "scoring", "decision", "clustering", "resolve",
    "ivf_topk", "brute_force_topk", "minhash_dedup_pairs",
    "embedding_near_dup_pairs_multipass",
]
LAYER_FIELDS = [
    "wall_s", "executor_cpu_s", "python_cpu_s", "shuffle_write_bytes",
    "spill_bytes", "tasks", "task_skew", "rows_out",
]
FUNNEL = [
    "candidates.pairs_exact", "candidates.pairs_lsh", "candidates.pairs_sn",
    "candidates.pairs_lsh_salted", "candidates.pairs", "decision.matches",
    "clustering.components", "candidates.match_yield",
]
MICROBATCH = [
    "microbatch.wall_s", "microbatch.featurize_s", "microbatch.score_s",
    "microbatch.decide_s", "microbatch.jobs", "microbatch.executor_cpu_s",
    "state.bytes", "state.files",
]
TRACE = [
    "trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s",
    "trace.span_cover", "process.jvm_cpu_s", "process.python_cpu_s",
]
END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "pair_f1": "ratio", "microbatch_p50_s": "s", "resolve_s": "s",
    "ann_recall": "ratio", "dedup_recall": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit (BENCHMARK.json lists
    the same names)."""
    field_units = {
        "wall_s": "s", "executor_cpu_s": "s", "python_cpu_s": "s",
        "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
        "tasks": "count", "task_skew": "ratio", "rows_out": "count",
    }
    units = {f"{l}.{f}": field_units[f] for l in LAYERS for f in LAYER_FIELDS}
    units.update({m: "count" for m in FUNNEL})
    units["candidates.match_yield"] = "ratio"
    units.update({m: "s" for m in MICROBATCH})
    units.update({"microbatch.jobs": "count", "state.bytes": "bytes",
                  "state.files": "count"})
    units.update({m: "s" for m in TRACE})
    units["trace.span_cover"] = "ratio"
    return units


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of physical memory, between 1 and 4 GiB: the inputs
    are small, and the JVM heap grows to its limit before collecting,
    so a larger limit only takes memory from the rest of the host."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    mb = min(max(total_kb // 8 // 1024, 1024), 4096)
    return f"{mb}m"


def prepare_env(workdir: str) -> None:
    """Environment the JVM and the Python workers inherit: set before
    pyspark is imported, so nothing is written outside workdir."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are forked from a daemon the JVM starts; they find
    # the package only through PYTHONPATH inherited at JVM launch.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # the environment variable overrides spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["SPARK_DRIVER_MEM"] = driver_memory()


def start_session(workdir: str, trace: bool):
    """local[<cores>] session whose scratch files, temp files and event
    log all stay under workdir."""
    from energy_aware_entity_resolution_spark import get_spark

    tmp = os.environ["TMPDIR"]
    cores = usable_cores()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # a heap fixed at its limit: when it may grow, the collector
        # expands it in some runs and not in others, and peak memory
        # jumps by ~0.5 GB between runs of the same input
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={tmp} -Xms{os.environ['SPARK_DRIVER_MEM']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # no zstandard module to read the default compressed log
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, tree) -> None:
    """Stop Spark, then wait for the JVM and every Python worker to end."""
    from pyspark import SparkContext

    workers = tree.python_pids()
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(setup_s, passes, quality) -> dict:
    m = {
        "setup_s": setup_s,
        "wall_s": median([p["wall_s"] for p in passes]),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": max(p["peak_rss_bytes"] for p in passes) / 2**20,
    }
    for key in ("pair_f1", "microbatch_p50_s", "resolve_s", "ann_recall",
                "dedup_recall"):
        m[key] = median([q[key] for q in quality])
    return m


def per_layer(tracer, traced, untraced_wall, workdir) -> dict:
    from tracing import read_event_log, task_metrics_by_group

    tasks = task_metrics_by_group(read_event_log(os.path.join(workdir, "eventlog")))
    m = dict.fromkeys(per_layer_units(), 0)
    by_layer: dict[str, list] = {}
    for span in tracer.spans:
        span.update(tasks.get(span["group"], {}))
        by_layer.setdefault(span["layer"], []).append(span)
    for layer in LAYERS:
        for span in by_layer.get(layer, []):
            for f in LAYER_FIELDS:
                if f == "task_skew":
                    m[f"{layer}.{f}"] = max(m[f"{layer}.{f}"], span.get(f, 0))
                else:
                    m[f"{layer}.{f}"] += span.get(f, 0)
    batches = by_layer.get("microbatch", [])
    if batches:
        m["microbatch.wall_s"] = median([s["wall_s"] for s in batches])
        m["microbatch.jobs"] = median([s.get("jobs", 0) for s in batches])
        m["microbatch.executor_cpu_s"] = median(
            [s.get("executor_cpu_s", 0) for s in batches]
        )
        for key in ("featurize_s", "score_s", "decide_s"):
            m[f"microbatch.{key}"] = median([a[key] for a in traced["audit"]])
        m["state.bytes"] = traced["state_bytes"]
        m["state.files"] = traced["state_files"]
    for key, value in (traced.get("funnel") or {}).items():
        m[key] = value
    spans_wall = sum(s["wall_s"] for s in tracer.spans)
    m["trace.wall_s"] = traced["wall_s"]
    m["trace.untraced_wall_s"] = untraced_wall
    m["trace.overhead_s"] = traced["wall_s"] - untraced_wall
    m["trace.span_cover"] = spans_wall / traced["wall_s"]
    m["process.jvm_cpu_s"] = sum(s["jvm_cpu_s"] for s in tracer.spans)
    m["process.python_cpu_s"] = sum(s["python_cpu_s"] for s in tracer.spans)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    prepare_env(workdir)
    sys.path.insert(0, ROOT)
    from tracing import EngineTree, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(workdir, ignore_errors=True)
        return 2

    spark = tree = None
    try:
        t_setup = time.perf_counter()
        spark = start_session(workdir, bool(args.trace))
        tree = EngineTree(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        wl = WORKLOADS[args.workload](spark, tree, args.seed, workdir)
        wl.setup()
        setup_s = time.perf_counter() - t_setup

        passes, quality, failures = [], [], []
        failed = 0
        t_measure = time.perf_counter()
        while True:
            out = wl.run_pass()
            q, bad = wl.check(out)
            passes.append(out)
            quality.append(q)
            failures += bad
            failed += bool(bad)
            elapsed = time.perf_counter() - t_measure
            # whole passes only: start another one only if it fits
            if elapsed + out["wall_s"] > args.seconds:
                break
        attempted = len(passes)
        if args.trace:
            tracer = Tracer(spark, tree)
            traced = wl.run_pass(tracer)
            _, bad = wl.check(traced)
            failures += bad
            failed += bool(bad)
            attempted += 1
            untraced_wall = median([p["wall_s"] for p in passes])
            stop_session(spark, tree)
            spark = None
            metrics = per_layer(tracer, traced, untraced_wall, workdir)
            units = per_layer_units()
        else:
            metrics = end_to_end(setup_s, passes, quality)
            units = END_TO_END_UNITS
    finally:
        if spark is not None:
            stop_session(spark, tree)
        shutil.rmtree(workdir, ignore_errors=True)

    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k], "unit": units[k]} for k in units
        },
    }
    print(json.dumps(result))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
