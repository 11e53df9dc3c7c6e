"""Measurement helpers for the benchmark: process-tree CPU and memory of
the Spark engine, and spans over the package's public calls whose task
metrics are read back from Spark's event log.

Everything here observes the engine from outside: /proc for the JVM and
its Python worker processes, ``setJobGroup`` tags plus the uncompressed
event log for per-span task metrics. Nothing in the package is patched.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, own cpu ticks, reaped-children cpu ticks)."""
    table = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:
            continue  # exited between glob and open
        pid = int(raw.split(" ", 1)[0])
        # fields after "comm)": 1=ppid 11=utime 12=stime 13=cutime
        # 14=cstime
        f = raw.rsplit(")", 1)[1].split()
        table[pid] = (int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    return table


class EngineTree:
    """The engine's process tree: the local-mode JVM (driver and every
    executor thread) and its descendants, which are the pandas-UDF and
    mapInPandas Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _members(self, table) -> list[int]:
        children: dict[int, list[int]] = {}
        for pid, row in table.items():
            children.setdefault(row[0], []).append(pid)
        out, frontier = [], [self.jvm_pid]
        while frontier:
            p = frontier.pop()
            if p in table:
                out.append(p)
                frontier.extend(children.get(p, ()))
        return out

    def cpu(self) -> tuple[float, float]:
        """(jvm_cpu_s, python_cpu_s), cumulative. A Python worker that
        exits is reaped by the pyspark daemon, so its time stays in the
        daemon's reaped-children field and is still counted."""
        table = _proc_table()
        jvm = py = 0
        for pid in self._members(table):
            _, own, reaped = table[pid]
            if pid == self.jvm_pid:
                jvm += own
            else:
                py += own + reaped
        return jvm / _TICK, py / _TICK

    def peak_rss_bytes(self) -> int:
        """Peak resident memory (VmHWM) of the JVM since it started. The
        Python workers are left out: how many exist at once changes
        from run to run (one or two daemons of four ~60-130 MB workers),
        which made the tree's sum bimodal."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
        raise RuntimeError("no VmHWM line in /proc status")

    def python_pids(self) -> list[int]:
        return [p for p in self._members(_proc_table()) if p != self.jvm_pid]


class Meter:
    """Wall time and engine CPU of one measured section (the ``with``
    block), and the JVM's peak memory at its end."""

    def __init__(self, tree: EngineTree):
        self.tree = tree

    def __enter__(self) -> "Meter":
        self._cpu0 = sum(self.tree.cpu())
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = sum(self.tree.cpu()) - self._cpu0
        self.peak_rss_bytes = self.tree.peak_rss_bytes()


class Tracer:
    """Spans around public calls. Each span tags its Spark jobs with a
    job group, so the event log attributes task metrics to it, and
    takes /proc CPU deltas of the JVM and the Python workers. Spans are
    sequential (one call at a time), so deltas do not overlap."""

    IDLE = "bench:untraced"

    def __init__(self, spark, tree: EngineTree):
        self.sc = spark.sparkContext
        self.tree = tree
        self.spans: list[dict] = []
        self.sc.setJobGroup(self.IDLE, "benchmark bookkeeping")

    def span(self, layer: str):
        return _Span(self, layer)


class _Span:
    def __init__(self, tracer: Tracer, layer: str):
        self.tracer = tracer
        self.rec = {"layer": layer, "group": f"span:{len(tracer.spans)}:{layer}"}
        self.rows_out = 0

    def __enter__(self) -> "_Span":
        self.tracer.sc.setJobGroup(self.rec["group"], self.rec["layer"])
        self._cpu0 = self.tracer.tree.cpu()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        wall = time.perf_counter() - self._t0
        cpu1 = self.tracer.tree.cpu()
        self.tracer.sc.setJobGroup(Tracer.IDLE, "benchmark bookkeeping")
        self.rec.update(
            wall_s=wall,
            jvm_cpu_s=cpu1[0] - self._cpu0[0],
            python_cpu_s=cpu1[1] - self._cpu0[1],
            rows_out=self.rows_out,
        )
        self.tracer.spans.append(self.rec)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under log_dir.
    Spark 4 writes a rolling directory ``eventlog_v2_<app>/events_N_<app>``;
    a plain ``<app>`` file is read too."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += [
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    ]
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def task_metrics_by_group(events: list[dict]) -> dict[str, dict]:
    """job group -> executor CPU, shuffle write, spill, task count, task
    skew (max/median task time of the group's heaviest stage) and the
    number of jobs."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            jobs[g] = jobs.get(g, 0) + 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = g
    per_stage: dict[int, list[float]] = {}
    out: dict[str, dict] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        g = stage_group.get(e["Stage ID"])
        tm = e.get("Task Metrics")
        if g is None or not tm:
            continue
        info = e["Task Info"]
        acc = out.setdefault(
            g,
            {"executor_cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
             "tasks": 0, "stages": set()},
        )
        acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0
        )
        acc["tasks"] += 1
        acc["stages"].add(e["Stage ID"])
        per_stage.setdefault(e["Stage ID"], []).append(
            (info["Finish Time"] - info["Launch Time"]) / 1000.0
        )
    for g, acc in out.items():
        heaviest = max(acc.pop("stages"), key=lambda s: sum(per_stage[s]))
        times = per_stage[heaviest]
        med = statistics.median(times)
        acc["task_skew"] = max(times) / med if med > 0 else 1.0
        acc["jobs"] = jobs.get(g, 0)
    for g, n in jobs.items():
        out.setdefault(
            g,
            {"executor_cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
             "tasks": 0, "task_skew": 0.0, "jobs": n},
        )
    return out
