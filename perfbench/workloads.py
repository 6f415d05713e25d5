"""One iteration of each workload, driven through the CLI functions exactly
as a user runs them, plus the output checks and the direct layer calls of
the traced run.

An iteration is a list of stage calls. ``Ledger.call`` times each call,
counts it as attempted, and counts it as failed when it raises or when its
output check reports a problem; checks run outside the timed region and
outside the CPU count.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import gzip
import hashlib
import io
import os
import re
import sys
import time
import traceback

import pyarrow.parquet as pq

from perfbench.inputs import CRAWL_BUDGET, CRAWL_ROUNDS

_TEXT_MIMES = re.compile("(text|html|xml)")


class Ledger:
    """Attempted / failed checks across the whole run, and the process
    tree's CPU seconds spent inside the stage calls."""

    def __init__(self, cpu_clock, fault: bool = False):
        self.attempted = 0
        self.failed = 0
        self.cpu_clock = cpu_clock
        self.cpu_s = 0.0
        # fault injection for the benchmark's own test: every expectation
        # is off by one, so every output check must fail
        self.fault = 1 if fault else 0

    def check(self, name: str, problems: list) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"[perfbench] {name} check failed: {problems}", file=sys.stderr)

    def call(self, spans, name: str, fn, check) -> None:
        """Run `fn` inside span `name`; then `check(result, stdout)`,
        which returns a list of problems."""
        out = io.StringIO()
        cpu0 = self.cpu_clock()
        try:
            with spans.span(name), contextlib.redirect_stdout(out):
                result = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.check(name, ["raised"])
            return
        finally:
            self.cpu_s += self.cpu_clock() - cpu0
        self.check(name, check(result, out.getvalue()))


def cli_args(cpus: int, command: str, *argv: str) -> argparse.Namespace:
    """The Namespace that `python -m warc_metadata_sidecar_spark.cli --cpus
    <cpus> <command> <argv>` hands to its command function, defaults
    included: the CLI's own parser runs, with the command function swapped
    for one that only keeps its argument."""
    from warc_metadata_sidecar_spark import cli

    name = f"cmd_{command}"
    real, saved_argv, got = getattr(cli, name), sys.argv, []
    setattr(cli, name, got.append)
    sys.argv = ["warc_metadata_sidecar_spark", "--cpus", str(cpus), command, *argv]
    try:
        cli.main()
    finally:
        setattr(cli, name, real)
        sys.argv = saved_argv
    return got[0]


def _printed(stdout: str, label: str) -> int | None:
    m = re.search(re.escape(label) + r":\s*(\d+)", stdout)
    return int(m.group(1)) if m else None


def _diff(problems: list, what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got}, expected {want}")


def _text_lines(path: str) -> int:
    n = 0
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Chain:
    """sidecar --emit-warc -> cdxj -> merge, as `python -m
    warc_metadata_sidecar_spark.cli` runs them."""

    stages = ("sidecar", "cdxj", "merge")
    units = 1  # the whole chain is one unit of work

    def __init__(self, spec: dict, cpus: int, ledger: Ledger):
        self.spec = spec
        self.cpus = cpus
        self.ledger = ledger
        self.merged_digest: str | None = None
        self.edited_ratio = 0.0
        self.docs_per_unit = spec["rows"]

    def iteration(self, spans, out: str) -> None:
        from warc_metadata_sidecar_spark import cli

        exp = {k: v + self.ledger.fault for k, v in self.spec["expected"].items()}
        side_args = cli_args(
            self.cpus, "sidecar", out, self.spec["documents"],
            "--media", self.spec["media"], "--emit-warc",
        )
        self.publisher = side_args.publisher
        self.ledger.call(
            spans, "sidecar", lambda: cli.cmd_sidecar(side_args),
            lambda _, stdout: self._check_sidecar(out, stdout, exp),
        )
        cdxj_args = cli_args(self.cpus, "cdxj", os.path.join(out, "sidecar"), out)
        self.ledger.call(
            spans, "cdxj", lambda: cli.cmd_cdxj(cdxj_args),
            lambda _, __: self._check_cdxj(out, exp),
        )
        merge_args = cli_args(
            self.cpus, "merge", "-m", os.path.join(out, "cdxj"),
            "-w", self.spec["original_cdxj"], "-d", os.path.join(out, "merge"),
        )
        self.ledger.call(
            spans, "merge", lambda: cli.cmd_merge(merge_args),
            lambda _, stdout: self._check_merge(out, stdout, exp),
        )

    def _check_sidecar(self, out: str, stdout: str, exp: dict) -> list:
        problems: list = []
        _diff(problems, "printed total records",
              _printed(stdout, "Total Records for this WARC file"), exp["total_records_read"])
        _diff(problems, "printed mime-type records",
              _printed(stdout, "Records with Mime Types"), exp["text_mime"] + exp["non_text"])
        prov = pq.read_table(os.path.join(out, "sidecar", "provenance")).to_pylist()
        _diff(problems, "provenance records_written", prov[0]["records_written"],
              exp["records_written"])
        mimes = pq.read_table(os.path.join(out, "sidecar", "rows"), columns=["mime"])
        text = sum(
            1 for m in mimes.column("mime").to_pylist()
            if _TEXT_MIMES.search(" ".join(v for _, v in m or ()))
        )
        _diff(problems, "text rows", text, exp["text_mime"])
        _diff(problems, "non-text rows", mimes.num_rows - text, exp["non_text"])
        meta_records = 0
        for path in glob.glob(os.path.join(out, "*.meta.gz")):
            with gzip.open(path, "rb") as fh:
                meta_records += sum(1 for line in fh if line == b"WARC-Type: metadata\r\n")
        _diff(problems, "metadata records in .meta.gz files", meta_records,
              exp["records_written"])
        return problems

    def _check_cdxj(self, out: str, exp: dict) -> list:
        problems: list = []
        _diff(problems, "cdxj lines", _text_lines(os.path.join(out, "cdxj")),
              exp["records_written"])
        return problems

    def _check_merge(self, out: str, stdout: str, exp: dict) -> list:
        problems: list = []
        merged = os.path.join(out, "merge", "merged")
        lines = _text_lines(merged)
        edited = _printed(stdout, "Total merged records")
        _diff(problems, "merged lines", lines, exp["original_lines"])
        _diff(problems, "printed merged records", edited, exp["edited"])
        digest = _digest(merged)
        if self.merged_digest is None:
            self.merged_digest = digest
        _diff(problems, "merged CDXJ sha256", digest, self.merged_digest)
        self.edited_ratio = (edited or 0) / max(1, lines)
        return problems

    def layer_calls(self, spark, spans, out: str, layer_out: str) -> None:
        """Each layer the chain runs, called directly in its own job group.
        Sinks read the rows the traced CLI iteration wrote to `out`, so a
        sink's time excludes the detector plan feeding it."""
        from warc_metadata_sidecar_spark.operators.cdxj import (
            merge_cdxj,
            merge_counters,
            sidecar_to_cdxj,
        )
        from warc_metadata_sidecar_spark.operators.sidecar import sidecar_rows
        from warc_metadata_sidecar_spark.sources.cdxj_text import read_cdxj, write_cdxj
        from warc_metadata_sidecar_spark.sources.tables import write_sidecar
        from warc_metadata_sidecar_spark.sources.warc_export import (
            stream_sidecar_warc_files,
        )

        docs = spark.read.parquet(self.spec["documents"])
        media = spark.read.parquet(self.spec["media"])
        rows = spark.read.parquet(os.path.join(out, "sidecar", "rows"))
        source = os.path.basename(self.spec["documents"])
        with spans.span("layer.sidecar.compute"):
            sidecar_rows(docs, media).write.format("noop").mode("overwrite").save()
        with spans.span("layer.tables.write"):
            write_sidecar(rows, os.path.join(layer_out, "sidecar"), source, None, self.publisher)
        with_source = rows.join(docs.select("doc_id", "source_file"), "doc_id", "left")
        with spans.span("layer.warc_export.write"):
            stream_sidecar_warc_files(
                with_source, os.path.join(layer_out, "warc"), publisher=self.publisher
            )
        with spans.span("layer.cdxj.write"):
            write_cdxj(sidecar_to_cdxj(rows), os.path.join(layer_out, "cdxj"))
        meta = read_cdxj(spark, os.path.join(out, "cdxj"))
        orig = read_cdxj(spark, self.spec["original_cdxj"])
        merged = merge_cdxj(orig, meta, canonicalize_json=True)
        with spans.span("layer.merge.write"):
            write_cdxj(
                merged.select("line_id", "urlkey", "ts", "json"),
                os.path.join(layer_out, "merged"),
            )
        with spans.span("layer.merge.counters"):
            merge_counters(merged).first()


class Crawl:
    """Politeness rounds of frontier.crawl.run_crawl, with the arguments
    `cli.cmd_crawl` passes, over the generated corpus, seeds and robots."""

    stages = ("crawl",)

    def __init__(self, spec: dict, cpus: int, ledger: Ledger):
        from warc_metadata_sidecar_spark.frontier.simulator import simulate_crawl

        self.spec = spec
        self.cpus = cpus
        self.ledger = ledger
        self.flags = ("--rounds", str(CRAWL_ROUNDS), "--budget", str(CRAWL_BUDGET))
        args = cli_args(cpus, "crawl", spec["documents"], "", *self.flags)
        self.units = args.rounds  # one unit of work is one round
        sim = spec["crawl"]
        schedule, seen = simulate_crawl(
            sim["seed_urls"], sim["doc_urls"], sim["robots"], rounds=args.rounds,
            universe=spec["rows"], default_budget=args.budget,
        )
        self.want_schedule = set(schedule)
        self.want_seen = set(seen)
        if ledger.fault:
            self.want_seen.add("com,example,fault)/")
        self.docs_per_unit = 0.0
        self.selected = 0

    def iteration(self, spans, out: str) -> None:
        args = cli_args(self.cpus, "crawl", self.spec["documents"], out, *self.flags)
        self.ledger.call(spans, "crawl", lambda: self._crawl(args), self._check)

    def _crawl(self, args: argparse.Namespace):
        """The body of cli.cmd_crawl, with seeds and robots read from the
        generated files instead of gen's fixed tables."""
        from warc_metadata_sidecar_spark.frontier.crawl import run_crawl
        from warc_metadata_sidecar_spark.session import build_session

        spark = build_session("crawl-cli", cpus=args.cpus)
        docs = spark.read.parquet(args.documents_path)
        seeds = spark.read.parquet(self.spec["seeds"])
        robots = spark.read.parquet(self.spec["robots"])
        result = run_crawl(
            spark, docs, seeds, robots, rounds=args.rounds, universe=docs.count(),
            default_budget=args.budget, out_dir=args.out_dir, annotate=True,
            bucketed_seen=True, seen_lookup=args.seen_lookup,
            broadcast_state_limit=args.seen_broadcast_limit, discovery=args.discovery,
            edge_kinds=tuple(args.edge_kinds.split(",")),
        )
        for m in result.lineage:
            print(
                f"round={m.round} candidates={m.candidates} selected={m.selected} "
                f"fetched={m.fetched} links={m.new_links} seen={m.seen_after}"
            )
        return result

    def _check(self, result, _stdout: str) -> list:
        problems: list = []
        got_schedule = {(r.round, r.canonical_url) for r in result.schedule.collect()}
        got_seen = {r.canonical_url for r in result.seen.collect()}
        _diff(problems, "schedule size", len(got_schedule), len(self.want_schedule))
        if got_schedule != self.want_schedule:
            problems.append("schedule differs from simulate_crawl")
        if got_seen != self.want_seen:
            problems.append("seen set differs from simulate_crawl")
        _diff(problems, "rounds", len(result.lineage), self.units)
        # documents fetched and annotated per round
        self.docs_per_unit = sum(m.fetched for m in result.lineage) / self.units
        self.selected = sum(m.selected for m in result.lineage)
        return problems


def make(spec: dict, cpus: int, ledger: Ledger):
    return Crawl(spec, cpus, ledger) if "crawl" in spec else Chain(spec, cpus, ledger)


def detector_rows_per_s(sample: list, reps: int = 3) -> float:
    """functions.detectors.detect_all's Python body on one pandas batch of
    the workload's page payloads, in this process; median of `reps`."""
    import statistics

    import pandas as pd

    from warc_metadata_sidecar_spark.functions.detectors import detect_all

    text = pd.Series([t for t, _ in sample], dtype=object)
    status = pd.Series([s for _, s in sample], dtype=object)
    empty = pd.Series([None] * len(sample), dtype=object)
    rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        out = detect_all.func(text, empty, status, empty)
        rates.append(len(out) / (time.perf_counter() - t0))
    return statistics.median(rates)
