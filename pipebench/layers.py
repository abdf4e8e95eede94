"""Traced run: per-layer numbers for each module the pipeline passes through.

The workload's terminal call runs alternately untraced and traced; the traced
runs wrap the library's layer calls (``LAYER_CALLS``) in spans from outside, and
the difference of the two medians is the tracing overhead. Probes then run on
the same corpus (the fan-out on the resume workload's corpus), each ending in
an action whose output is checked:

* prefix ablation: scan -> + with_parsed -> + with_category -> + enrich, each
  ending in an aggregate that consumes the newest layer's column (a bare
  ``count()`` would let Catalyst prune the parse away); the marginal costs are
  the layer costs;
* the same parse prefix through the pandas grok twin;
* the report (operators.analyze / operators.aggregates);
* a crash-and-resume fan-out (sources.checkpoint);
* a streaming drain with a StreamingQueryListener (streaming.pipeline);
* the flagship call at local[nproc] and at local[1].

Job-level numbers come from the session's JSON event log. Probe timings are the
minimum of their repeats; the report, fan-out and stream probes run once to keep
a traced run well inside three minutes. Spans and metrics are written to
``.pipebench/trace/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from timberjack_spark import fixtures
from timberjack_spark.functions import extract, grok
from timberjack_spark.operators import enrich, route
from timberjack_spark.sources import checkpoint

import oracle
from eventlog import EventLog, session_conf
from harness import WORK, Runner, Session, prepare
from spans import Tracer
from workloads import WORKLOADS

LAYER_CALLS = [
    ("timberjack_spark.functions.extract", "with_parsed"),
    ("timberjack_spark.functions.grok", "with_parsed_pandas"),
    ("timberjack_spark.operators.route", "with_category"),
    ("timberjack_spark.operators.enrich", "enrich"),
    ("timberjack_spark.api", "analyze"),
    ("timberjack_spark.api", "collect_report"),
    ("timberjack_spark.sources.checkpoint", "run_resumable_fanout"),
    ("timberjack_spark.sources.checkpoint", "completed_buckets"),
    ("timberjack_spark.streaming.pipeline", "run_stream_once"),
]
PREFIXES = ["scan", "parse", "category", "enrich"]
REPS = 2
MIN_PAIRS = 2

# name -> unit; BENCHMARK.json's per_layer list names exactly these
PER_LAYER = {
    "session.start_s": "s",
    "prefix.scan_s": "s", "prefix.parse_s": "s", "prefix.category_s": "s", "prefix.enrich_s": "s",
    "extract.plan_s": "s", "extract.s": "s", "extract.cpu_s": "s",
    "grok.s": "s",
    "route.s": "s",
    "route.rows.errors": "count", "route.rows.tool-calls": "count",
    "route.rows.anomalies": "count", "route.rows.dialogue": "count",
    "enrich.s": "s", "enrich.unmatched_rows": "count",
    "analyze.jobs": "count", "analyze.scan_ratio": "ratio", "analyze.cache_s": "s",
    "analyze.collect_report_s": "s",
    "aggregates.shuffle_write_bytes": "bytes", "aggregates.spill_bytes": "bytes",
    "checkpoint.write_s": "s", "checkpoint.resume_s": "s", "checkpoint.ledger_s": "s",
    "checkpoint.bytes_written": "bytes", "checkpoint.files_written": "count",
    "checkpoint.scan_ratio": "ratio", "checkpoint.buckets_skipped": "count", "checkpoint.bucket_skew": "ratio",
    "stream.s": "s", "stream.batches": "count", "stream.state_rows": "count", "stream.state_bytes": "bytes",
    "stream.addBatch_ms": "ms", "stream.queryPlanning_ms": "ms", "stream.walCommit_ms": "ms",
    "stage.executor_cpu_s": "s", "stage.gc_s": "s", "stage.shuffle_read_bytes": "bytes",
    "stage.shuffle_write_bytes": "bytes", "stage.spill_bytes": "bytes", "stage.input_bytes": "bytes",
    "stage.tasks": "count", "stage.task_skew": "ratio",
    "scaling.localN_s": "s", "scaling.local1_s": "s", "scaling.speedup": "ratio",
    "trace.untraced_run_s": "s", "trace.run_s": "s", "trace.overhead_s": "s",
}


class _Progress(StreamingQueryListener):
    """Keeps every progress event; notes terminated queries."""

    def __init__(self):
        self.progress, self.terminated = [], 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1


class Probes:
    """Runs the per-layer probes; each repeat is timed, checked and tagged with a run id."""

    def __init__(self, session: Session, runner: Runner, tracer: Tracer, seed: int, turns: int):
        self.session, self.runner, self.tracer = session, runner, tracer
        self.seed, self.turns = seed, turns
        self.ctx = runner.ctx
        self.exp = runner.ctx.expected
        self.m: dict[str, float] = {}
        self.prefix_table: dict[str, dict] = {}
        self.analyze_run: str | None = None
        self.checkpoint_turns = 0

    def timed(self, run_id: str, fn, check=None):
        """(wall, cpu, output) of ``fn()``, or None if it raised; see ``Runner.timed``."""
        self.tracer.run = run_id
        s = self.runner.timed(run_id, fn, check or (lambda out: None))
        return None if s["raised"] else (s["wall_s"], s["proc_cpu_s"], s["out"])

    def best(self, name: str, fn, check=None, reps: int = REPS):
        """Minimum (wall, cpu) over the repeats, and the last output; None if all failed."""
        runs = [r for r in (self.timed(f"{name}/{k}", fn, check) for k in range(reps)) if r]
        if not runs:
            return None
        wall, cpu, _ = min(runs, key=lambda r: r[0])
        return wall, cpu, runs[-1][2]

    def prefixes(self) -> None:
        spark, path = self.session.spark, self.ctx.corpus
        by_cat, by_level = oracle.totals(self.exp["cat_level"], 0), oracle.totals(self.exp["cat_level"], 1)

        def query(name: str):
            df = spark.read.parquet(path)
            if name == "scan":
                return df.agg(F.sum(F.length("text")))
            parsed = extract.with_parsed(df)
            if name == "parse":
                return parsed.groupBy("level").count()
            routed = route.with_category(parsed)
            if name == "category":
                return routed.groupBy("category").count()
            dims = fixtures.dim_role_df(spark), fixtures.dim_tool_df(spark)
            return enrich.enrich(routed, *dims).groupBy("category", "role_group", "tool_family").count()

        def check(name: str, rows) -> str | None:
            if name == "scan":
                ok = rows[0][0] == self.exp["text_chars"]
            elif name == "parse":
                ok = {r[0]: r[1] for r in rows} == by_level
            elif name == "category":
                ok = {r[0]: r[1] for r in rows} == by_cat
            else:
                cats = oracle.totals([[r[0], None, r[3]] for r in rows], 0)
                ok = cats == by_cat and self.unmatched(rows) == self.exp["unmatched_rows"]
            return None if ok else f"prefix {name} output differs from the oracle"

        out = {}
        for k in range(REPS):  # alternate the prefixes so drift hits them alike
            for name in PREFIXES:
                r = self.timed(f"prefix/{name}/{k}", lambda: query(name).collect(), lambda rows: check(name, rows))
                if r and (name not in out or r[0] < out[name][0]):
                    out[name] = r
        if len(out) < len(PREFIXES):
            return
        self.prefix_table = {n: {"s": out[n][0], "cpu_s": out[n][1]} for n in PREFIXES}
        for n in PREFIXES:
            self.m[f"prefix.{n}_s"] = out[n][0]
        self.m["extract.s"] = out["parse"][0] - out["scan"][0]
        self.m["extract.cpu_s"] = out["parse"][1] - out["scan"][1]
        self.m["route.s"] = out["category"][0] - out["parse"][0]
        self.m["enrich.s"] = out["enrich"][0] - out["category"][0]
        self.m["extract.plan_s"] = min(self.tracer.durations("functions.extract.with_parsed", "prefix/parse/"))
        for cat, n in {r[0]: r[1] for r in out["category"][2]}.items():
            self.m[f"route.rows.{cat}"] = n
        self.m["enrich.unmatched_rows"] = self.unmatched(out["enrich"][2])

    @staticmethod
    def unmatched(rows) -> int:
        return sum(r[3] for r in rows if r[1] is None or r[2] is None)

    def grok(self) -> None:
        spark, path = self.session.spark, self.ctx.corpus
        want = oracle.totals(self.exp["cat_level"], 1)
        r = self.best(
            "grok",
            lambda: grok.with_parsed_pandas(spark.read.parquet(path)).groupBy("level").count().collect(),
            lambda rows: None if {x[0]: x[1] for x in rows} == want else "grok level counts differ",
        )
        if r and "prefix.scan_s" in self.m:
            self.m["grok.s"] = r[0] - self.m["prefix.scan_s"]

    def analyze(self) -> None:
        wl = WORKLOADS["report"]
        if self.timed("analyze/0", lambda: wl.call(self.ctx, ""), lambda d: wl.check(self.ctx, d)):
            self.analyze_run = "analyze/0"
            self.m["analyze.collect_report_s"] = self.tracer.durations("operators.analyze.collect_report", "analyze/0")[0]

    def checkpoint(self, run_dir: str) -> None:
        """The crash-and-resume fan-out on the resume workload's own corpus, whose
        hot conversation skews one bucket, at that workload's size at most."""
        wl = WORKLOADS["resume"]
        ctx = prepare(self.session, wl, self.seed, min(self.turns, wl.turns))
        r = self.timed("checkpoint/0", lambda: wl.call(ctx, run_dir), lambda o: wl.check(ctx, o))
        self.checkpoint_turns = sum(row[2] for row in ctx.expected["cat_level"])
        if not r:
            return
        out = r[2]
        self.m["checkpoint.write_s"] = sum(self.tracer.durations("sources.checkpoint.run_resumable_fanout", "checkpoint/"))
        self.m["checkpoint.ledger_s"] = sum(self.tracer.durations("sources.checkpoint.completed_buckets", "checkpoint/"))
        data = os.path.join(out["base"], "data")
        files = [os.path.join(d, f) for d, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")]
        self.tracer.run = "checkpoint/ledger"
        rows = [rec["rows"] for rec in checkpoint.completed_buckets(out["base"]).values()]
        self.m.update({
            "checkpoint.resume_s": out["resume_s"],
            "checkpoint.bytes_written": sum(os.path.getsize(f) for f in files),
            "checkpoint.files_written": len(files),
            "checkpoint.buckets_skipped": len(out["result"]["skipped"]),
            "checkpoint.bucket_skew": max(rows) / statistics.median(rows),
        })

    def stream(self, run_dir: str) -> None:
        wl = WORKLOADS["stream"]
        spark = self.session.spark
        listener = _Progress()
        spark.streams.addListener(listener)
        try:
            r = self.timed("stream/0", lambda: wl.call(self.ctx, run_dir), lambda o: wl.check(self.ctx, o))
            deadline = time.time() + 30
            while not listener.terminated and time.time() < deadline:
                time.sleep(0.05)
        finally:
            spark.streams.removeListener(listener)
        if not r or not listener.progress:
            return
        prog = listener.progress

        def phase(key: str) -> float:
            return float(sum(p.durationMs.get(key, 0) for p in prog))

        last = prog[-1].stateOperators
        self.m.update({
            "stream.s": r[0],
            "stream.batches": len(prog),
            "stream.state_rows": sum(op.numRowsTotal for op in last),
            "stream.state_bytes": sum(op.memoryUsedBytes for op in last),
            "stream.addBatch_ms": phase("addBatch"),
            "stream.queryPlanning_ms": phase("queryPlanning"),
            "stream.walCommit_ms": phase("walCommit"),
        })

    def scaling(self) -> None:
        wl = WORKLOADS["flagship"]

        def run():
            return wl.call(self.ctx, "")

        def check(rows):
            return wl.check(self.ctx, rows)

        n = self.best("scaling/n", run, check)
        self.session.stop()
        self.session.start(cores=1)
        one = self.best("scaling/1", run, check)
        if n and one:
            self.m.update({"scaling.localN_s": n[0], "scaling.local1_s": one[0], "scaling.speedup": one[0] / n[0]})

    def from_event_log(self, log: EventLog, traced_runs: list[str]) -> None:
        stages = [log.stage_metrics(run) for run in traced_runs]
        if stages:
            for key in ("executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                        "spill_bytes", "input_bytes", "tasks", "task_skew"):
                self.m[f"stage.{key}"] = statistics.median(s[key] for s in stages)
        turns = sum(r[2] for r in self.exp["cat_level"])
        jobs = log.run_jobs(self.analyze_run) if self.analyze_run else []
        # the first job that reads the source fills the persisted spine
        fills = sorted((j for j in jobs if log.job_scan_rows(j)), key=lambda j: j["submit"])
        if fills:
            sm = log.stage_metrics(self.analyze_run)
            fill = fills[0]
            self.m.update({
                "analyze.jobs": len(jobs),
                "analyze.scan_ratio": sm["scan_rows"] / turns,
                "analyze.cache_s": (fill["end"] - fill["submit"]) / 1e3,
                "aggregates.shuffle_write_bytes": sm["shuffle_write_bytes"],
                "aggregates.spill_bytes": sm["spill_bytes"],
            })
        if log.run_jobs("checkpoint/0"):
            self.m["checkpoint.scan_ratio"] = log.stage_metrics("checkpoint/0")["scan_rows"] / self.checkpoint_turns


def traced(wl, seed: int, seconds: float, turns: int, settings: dict) -> tuple[dict, dict]:
    trace_dir = os.path.join(WORK, "trace")
    log_dir = os.path.join(trace_dir, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    tracer = Tracer()
    session = Session(settings["cpus"], session_conf(log_dir))
    traced_runs: list[str] = []
    plain, spanned = [], []
    try:
        with tracer.span("session.start") as sp:
            session.start()
        runner = Runner(session, wl, prepare(session, wl, seed, turns, oracle.PARTS))
        probes = Probes(session, runner, tracer, seed, turns)
        probes.m["session.start_s"] = sp["end"] - sp["start"]
        runner.once("warmup")
        t_end = time.perf_counter() + seconds
        while len(plain) < MIN_PAIRS or time.perf_counter() < t_end:
            k = len(plain)
            plain.append(runner.once(f"untraced/{k}"))
            tracer.run = f"traced/{k}"
            with tracer.patched(LAYER_CALLS):
                spanned.append(runner.once(tracer.run))
            traced_runs.append(tracer.run)
        with tracer.patched(LAYER_CALLS):
            probes.prefixes()
            probes.grok()
            probes.analyze()
            for probe in (probes.checkpoint, probes.stream):
                run_dir = os.path.join(WORK, "runs", probe.__name__)
                try:
                    probe(run_dir)
                finally:
                    shutil.rmtree(run_dir, ignore_errors=True)
            probes.scaling()
    finally:
        session.close()
    log = EventLog(log_dir)
    probes.from_event_log(log, traced_runs)
    m = probes.m
    m["trace.untraced_run_s"] = statistics.median(s["wall_s"] for s in plain)
    m["trace.run_s"] = statistics.median(s["wall_s"] for s in spanned)
    m["trace.overhead_s"] = m["trace.run_s"] - m["trace.untraced_run_s"]
    missing = [name for name in PER_LAYER if name not in m]
    if missing:
        runner.fail(f"per-layer metrics not measured: {missing}")
    metrics = {name: {"value": float(m.get(name, -1.0)), "unit": unit} for name, unit in PER_LAYER.items()}
    info = {
        "workload": wl.name, "seed": seed, "turns": turns, "settings": settings,
        "prefix_table": probes.prefix_table, "errors": runner.errors[:5],
        "trace_file": os.path.join(trace_dir, f"{wl.name}-s{seed}.json"),
    }
    tracer.write(info["trace_file"], {"info": info, "metrics": metrics})
    result = {"correct": runner.failed == 0, "attempted": runner.attempted, "failed": runner.failed,
              "metrics": metrics}
    return info, result
