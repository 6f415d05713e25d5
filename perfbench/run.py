"""Benchmark of the paper's CLI chain (sidecar -> cdxj -> merge) and of
crawl rounds, run from the root of a checkout:

    python3 perfbench/run.py --workload chain-web --seed 1 --seconds 4 --trace 0

Generates the workload's inputs from --seed, builds the Spark session the
CLI reuses, runs one cold iteration, then warm iterations for --seconds,
checks every stage's output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.

--trace 0 reports the end-to-end metrics (tracing off). --trace 1 runs the
traced variant and reports the per-layer metrics from Spark's event log
and from direct calls into each layer. --smoke shrinks the inputs to a few
hundred rows; --inject-fault breaks every output check on purpose (the
benchmark's own test uses both). README.md maps each per-layer metric to
the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.inputs import generate  # noqa: E402
from perfbench.measure import (  # noqa: E402
    ProcTree,
    Spans,
    covered_seconds,
    event_log_conf,
    read_event_log,
)
from perfbench.workloads import Ledger, detector_rows_per_s, make  # noqa: E402

SETUP_REPS = 5
DRIVER_MEM = "2g"
GROUPS = ("sidecar", "cdxj", "merge", "crawl")
GROUP_METRICS = (
    ("jobs", "count"), ("tasks", "count"), ("task_s", "s"), ("jvm_cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("output_bytes", "B"),
    ("driver_gap_s", "s"), ("core_busy", "ratio"), ("wall_s", "s"), ("peak_heap_mb", "MB"),
)
LAYER_CALLS = (
    ("sidecar.compute_s", "layer.sidecar.compute"),
    ("tables.write_s", "layer.tables.write"),
    ("warc_export.write_s", "layer.warc_export.write"),
    ("cdxj.write_s", "layer.cdxj.write"),
    ("merge.write_s", "layer.merge.write"),
    ("merge.counters_s", "layer.merge.counters"),
)


def _environment(work: str, cpus: int) -> None:
    """Python workers import the package from the checkout; Spark's
    scratch space and temp files stay inside the checkout."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a 2 GB heap cap instead of the session's 8 GB default keeps the run
    # small on a shared machine; the heap still grows only as the program
    # needs it
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(work, "tmp")
        + " -Dderby.system.home=" + os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return conf


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Run:
    def __init__(self, args, work: str, cpus: int, tree: ProcTree):
        self.args = args
        self.work = work
        self.cpus = cpus
        self.spec = generate(args.workload, args.seed, os.path.join(work, "in"), args.smoke)
        self.ledger = Ledger(tree.cpu_seconds, fault=args.inject_fault)
        self.wl = make(self.spec, cpus, self.ledger)
        self.n_iter = 0
        self.spark = None

    def build(self, trace: bool) -> float:
        from warc_metadata_sidecar_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(
            "perfbench", cpus=self.cpus, extra=_session_conf(self.work, trace)
        )
        return time.perf_counter() - t0

    def iterate(self, spans: Spans) -> None:
        """One iteration into a fresh output directory."""
        self.last_out = os.path.join(self.work, f"out-{self.n_iter}")
        self.n_iter += 1
        self.wl.iteration(spans, self.last_out)

    def unit(self, spans: Spans) -> float:
        """Wall of one unit of work: the whole chain, or one crawl round."""
        return sum(spans.wall(s) for s in self.wl.stages) / self.wl.units

    def end_to_end(self) -> dict:
        setups = []
        for k in range(SETUP_REPS):
            setups.append(self.build(trace=False))
            if k < SETUP_REPS - 1:
                self.spark.stop()
        cold = Spans()
        self.iterate(cold)
        first = sum(cold.wall(s) for s in self.wl.stages)
        shutil.rmtree(self.last_out, ignore_errors=True)
        units, rates = [], []
        cpu0 = self.ledger.cpu_s
        t0 = time.perf_counter()
        while True:
            spans = Spans()
            self.iterate(spans)
            units.append(self.unit(spans))
            rates.append(self.wl.docs_per_unit / units[-1])
            shutil.rmtree(self.last_out, ignore_errors=True)
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        cpu = (self.ledger.cpu_s - cpu0) / (len(units) * self.wl.units)
        return {
            "setup_s": _metric(statistics.median(setups), "s"),
            "first_run_s": _metric(first, "s"),
            "run_s": _metric(statistics.median(units), "s"),
            "docs_per_s": _metric(statistics.median(rates), "1/s"),
            "cpu_s": _metric(cpu, "s"),
        }

    def per_layer(self) -> dict:
        crawl = "crawl" in self.spec
        # untraced first, as in the plain run: cold, then measured
        self.build(trace=False)
        self.iterate(Spans())
        plain = Spans()
        self.iterate(plain)
        untraced = sum(plain.wall(s) for s in self.wl.stages)
        self.spark.stop()
        # then a traced session: a warm-up iteration outside any job group,
        # so the traced one is the second of its session like the untraced
        # one, then each layer on its own
        self.build(trace=True)
        app_id = self.spark.sparkContext.applicationId
        self.iterate(Spans())
        spans = Spans(self.spark)
        self.iterate(spans)
        traced = sum(spans.wall(s) for s in self.wl.stages)
        if not crawl:
            self.wl.layer_calls(
                self.spark, spans, self.last_out, os.path.join(self.work, "layers")
            )
        self.spark.stop()
        groups = read_event_log(os.path.join(self.work, "eventlog", app_id))
        side = groups.get("sidecar", {})
        if not crawl:
            # a dedup change that runs the detectors on other rows fails here
            got = int(side.get("udf_rows", 0))
            want = self.spec["expected"]["detector_rows"] + self.ledger.fault
            self.ledger.check("sidecar.detector_rows",
                              [] if got == want else [f"got {got}, expected {want}"])

        m: dict = {}
        for g in GROUPS:
            tot = groups.get(g, {})
            wall = spans.wall(g)
            busy = sum(
                covered_seconds(tot.get("job_intervals", []), t0, t1)
                for name, t0, t1 in spans.spans if name == g
            )
            values = {k: tot.get(k, 0) for k, _ in GROUP_METRICS}
            values["jobs"] = int(values["jobs"])
            values["tasks"] = int(values["tasks"])
            values["driver_gap_s"] = max(0.0, wall - busy)
            values["core_busy"] = tot.get("task_s", 0) / (wall * self.cpus) if wall else 0
            values["wall_s"] = wall
            for k, unit in GROUP_METRICS:
                m[f"{g}.{k}"] = _metric(values[k], unit)
        for name, span in LAYER_CALLS:
            m[name] = _metric(spans.wall(span), "s")
        m["sidecar.detector_rows"] = _metric(int(side.get("udf_rows", 0)), "count")
        m["sidecar.dedup_ratio"] = _metric(side.get("udf_rows", 0) / self.spec["rows"], "ratio")
        m["sidecar.udf_s"] = _metric(side.get("udf_s", 0), "s")
        m["merge.edited_ratio"] = _metric(0 if crawl else self.wl.edited_ratio, "ratio")
        rounds = self.wl.units
        cr = groups.get("crawl", {})
        m["crawl.jobs_per_round"] = _metric(cr.get("jobs", 0) / rounds, "count")
        m["crawl.shuffle_bytes_per_round"] = _metric(cr.get("shuffle_bytes", 0) / rounds, "B")
        m["crawl.selected_per_round"] = _metric(
            (self.wl.selected / rounds) if crawl else 0, "count"
        )
        m["detectors.rows_per_s"] = _metric(
            detector_rows_per_s(self.spec["detector_sample"]), "1/s"
        )
        # untraced stage walls of the warm reference iteration
        m["sidecar_s"] = _metric(plain.wall("sidecar"), "s")
        m["index_s"] = _metric(plain.wall("cdxj") + plain.wall("merge"), "s")
        m["crawl_round_s"] = _metric(plain.wall("crawl") / rounds if crawl else 0, "s")
        m["trace.overhead_ratio"] = _metric(traced / untraced - 1, "ratio")
        layer = {n: spans.wall(s) for n, s in LAYER_CALLS}
        m["sidecar.unaccounted_s"] = _metric(
            0 if crawl else spans.wall("sidecar") - layer["sidecar.compute_s"]
            - layer["tables.write_s"] - layer["warc_export.write_s"], "s",
        )
        m["index.unaccounted_s"] = _metric(
            0 if crawl else spans.wall("cdxj") + spans.wall("merge") - layer["cdxj.write_s"]
            - layer["merge.write_s"] - layer["merge.counters_s"], "s",
        )
        return m


def _stop_gateway() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs")
    p.add_argument("--inject-fault", action="store_true", help="break every output check")
    args = p.parse_args()

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        _environment(work, cpus)
        import warc_metadata_sidecar_spark  # noqa: F401  (the program under test)

        tree = ProcTree()
        # inputs and the crawl simulator's expectations are made before the
        # tree's memory is sampled
        run = Run(args, work, cpus, tree)
        gc.collect()
        with tree:
            try:
                metrics = run.per_layer() if args.trace else run.end_to_end()
                if run.spark is not None:
                    run.spark.stop()
            finally:
                _stop_gateway()
        if not args.trace:
            metrics["peak_rss_mb"] = _metric(tree.peak_rss / 2**20, "MB")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    led = run.ledger
    print(json.dumps({
        "correct": led.failed == 0 and led.attempted > 0,
        "attempted": led.attempted,
        "failed": led.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
