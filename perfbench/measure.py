"""Measurement helpers shared by every workload of the benchmark.

- ``ProcTree``: CPU seconds and resident memory of this process and all
  its descendants (the Spark JVM and its Python workers), read from /proc.
- ``Spans``: wall-clock spans the benchmark records around its calls into
  each layer, each bound to a Spark job group of the same name.
- ``read_event_log``: turns Spark's own event log (uncompressed, not
  rolling) into per-job-group totals: jobs, tasks, task time, JVM CPU, GC,
  shuffle, spill, output bytes, peak JVM heap, and SQL-node metrics of the
  Arrow UDF.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that make Spark write one plain JSON-lines event
    log per application under `log_dir`."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # per-stage peaks of the JVM's memory metrics
        "spark.eventLog.logStageExecutorMetrics": "true",
        "spark.executor.metrics.pollingInterval": "200ms",
    }


class ProcTree:
    """CPU and resident memory of the process tree rooted at this
    process. A background thread samples the tree's summed resident memory
    every `interval` seconds; the peak is the largest sum seen. A sample
    costs ~15 ms of CPU on a running JVM, hence the long interval."""

    def __init__(self, interval: float = 1.0):
        self.root = os.getpid()
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _pids(self) -> list[int]:
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children[ppid].append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_seconds(self) -> float:
        """utime+stime of every live process in the tree, plus what each
        has collected from its reaped children (Python workers forked by
        the worker daemon end up there)."""
        ticks = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(f) for f in fields[11:15])
        return ticks / _TICK

    def rss_bytes(self) -> int:
        """Summed proportional set size: pages a forked Python worker
        shares with its daemon count once, not once per process."""
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, self.rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "ProcTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_rss = max(self.peak_rss, self.rss_bytes())


class Spans:
    """Named wall-clock spans; inside ``span(name)`` Spark jobs carry the
    job group `name`, so event-log totals line up with the span."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def wall(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.spans if n == name)


def _metric_seconds(value: int, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def read_event_log(path: str) -> dict:
    """Per-job-group totals from one application's event log file."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    udf_accums: dict[int, tuple[str, str]] = {}  # accumulator -> (name, type)
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))

    def walk_plan(node: dict) -> None:
        if node["nodeName"] in ("ArrowEvalPython", "BatchEvalPython"):
            for m in node["metrics"]:
                udf_accums[m["accumulatorId"]] = (m["name"], m["metricType"])
        for child in node["children"]:
            walk_plan(child)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"]}
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
                groups[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                walk_plan(ev["sparkPlanInfo"])
            elif kind == "SparkListenerStageExecutorMetrics":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                heap = ev["Executor Metrics"].get("JVMHeapMemory", 0) / 2**20
                g["peak_heap_mb"] = max(g["peak_heap_mb"], heap)
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["task_s"] += m.get("Executor Run Time", 0) / 1e3
                g["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                g["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                g["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                for acc in ev["Task Info"].get("Accumulables", ()):
                    if acc["ID"] in udf_accums:
                        name, mtype = udf_accums[acc["ID"]]
                        v = int(acc.get("Update") or 0)
                        if name == "number of output rows":
                            g["udf_rows"] += v
                        elif name == "time to run Python workers":
                            g["udf_s"] += _metric_seconds(v, mtype)
    for job in jobs.values():
        groups[job["group"]].setdefault("job_intervals", [])
        groups[job["group"]]["job_intervals"].append(
            (job["start"] / 1e3, job.get("end", job["start"]) / 1e3)
        )
    return {k: dict(v) for k, v in groups.items()}


def covered_seconds(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by the union of `intervals`."""
    covered, cur = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, t1)
        if b > a:
            covered += b - a
            cur = b
    return covered

