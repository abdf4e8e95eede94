"""Layered pipeline benchmark for timberjack_spark.

    python3 pipebench/run.py --workload flagship --seed 1 --seconds 10 --trace 0
    python3 pipebench/run.py --smoke            # every workload, tiny inputs, outputs checked

Run from the root of a checkout. A run starts one Spark session at
``local[nproc]``, generates the workload's corpus from ``--seed`` under
``.pipebench/``, computes the expected outputs with DuckDB, sets up, then repeats
the workload's terminal call for ``--seconds`` seconds with a fresh plan each
time and checks every output. The last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer ones (``layers.py``).
The line before it records the host settings and the samples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from harness import ROOT, WORK, Runner, Session, host_settings, prepare

BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
# workloads.WORKLOADS, spelled out: importing it imports timberjack_spark, which
# must wait until host_settings() has set the session's environment
WORKLOAD_NAMES = ["flagship", "report", "resume", "stream"]
SMOKE_TURNS = 3_000


# The metrics BENCHMARK.json gates on. CPU time is not charged while a shared
# host's VM waits for a physical core and wall time is, so on such a host the
# wall-clock figures spread too far between runs to bound; they are printed on
# the info line with the rest. ``cpu_s`` is the CPU time of the run's Spark
# tasks, from the event log: the CPU time of the whole process tree
# (``proc_cpu_s``) also holds the JIT compiler and GC threads, whose share
# depends on how far the JVM has warmed up.
GATED = ("setup_s", "cpu_s", "peak_rss_mb")


def figures(setup_s: float, samples: list[dict], turns: int, attempted: int, failed: int) -> dict:
    """Every end-to-end figure, by name, as {"value", "unit"}."""
    good = [s for s in samples if s["ok"]] or samples
    run_s = statistics.median(s["wall_s"] for s in good)
    out = {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "turns_per_s": (turns / run_s, "1/s"),
        "cpu_s": (statistics.median(s["task_cpu_s"] for s in good), "s"),
        "proc_cpu_s": (statistics.median(s["proc_cpu_s"] for s in good), "s"),
        "peak_rss_mb": (statistics.median(s["peak_rss_b"] for s in good) / 2**20, "MB"),
        "failed_frac": (failed / attempted, "ratio"),
    }
    if "resume_s" in good[0]:
        out["resume_s"] = (statistics.median(s["resume_s"] for s in good), "s")
    return {name: {"value": v, "unit": unit} for name, (v, unit) in out.items()}


def bench(wl, seed: int, seconds: float, turns: int, settings: dict) -> tuple[dict, dict]:
    """Set-up is session start (JVM launch included) + dims + one warm-up run.
    One more untimed run lets the JIT settle before the timed window."""
    import procstat
    from eventlog import EventLog, session_conf

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    session = Session(settings["cpus"], session_conf(log_dir))
    try:
        t0 = time.perf_counter()
        session.start()
        start_s = time.perf_counter() - t0
        runner = Runner(session, wl, prepare(session, wl, seed, turns))
        t0 = time.perf_counter()
        runner.once()
        warmup_s = time.perf_counter() - t0
        runner.once()
        with procstat.RssSampler(session.jvm_pid) as sampler:
            samples = runner.loop(seconds, sampler)
    finally:
        session.close()
    log = EventLog(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    for s in samples:
        s["task_cpu_s"] = log.stage_metrics(s["run"])["executor_cpu_s"]
    figs = figures(start_s + warmup_s, samples, turns, runner.attempted, runner.failed)
    info = {
        "workload": wl.name, "seed": seed, "turns": turns, "settings": settings,
        "session_start_s": start_s, "warmup_s": warmup_s, "samples": len(samples),
        "wall_s": [s["wall_s"] for s in samples], "cpu_s": [s["task_cpu_s"] for s in samples],
        "proc_cpu_s": [s["proc_cpu_s"] for s in samples],
        "figures": figs, "errors": runner.errors[:5],
    }
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {name: figs[name] for name in GATED},
    }
    return info, result


def smoke(settings: dict) -> int:
    """Every workload at a tiny size with its output checked, then a tiny untraced
    and traced run of the command, whose metric names must match BENCHMARK.json.
    Exit status 1 on any failure."""
    from workloads import WORKLOADS

    failed = 0
    session = Session(settings["cpus"], {})
    try:
        session.start()
        for wl in WORKLOADS.values():
            runner = Runner(session, wl, prepare(session, wl, 1, SMOKE_TURNS))
            runner.once()
            print(f"smoke {wl.name}: {'ok' if not runner.failed else runner.errors[0]}")
            failed += runner.failed
    finally:
        session.close()
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", "flagship", "--seed", "2",
               "--seconds", "0", "--turns", str(SMOKE_TURNS), "--trace", str(trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        if proc.returncode != 0:
            print(f"smoke --trace {trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            failed += 1
            continue
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        mismatched = sorted({m["name"] for m in spec[key]} ^ set(result["metrics"]))
        print(f"smoke --trace {trace}: failed {result['failed']} of {result['attempted']}, "
              f"names not matching BENCHMARK.json {key}: {mismatched}")
        failed += result["failed"] + len(mismatched)
    return 1 if failed else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--turns", type=int, default=0, help="corpus size (default: the workload's)")
    ap.add_argument("--smoke", action="store_true", help="tiny run of every workload, outputs checked")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "timberjack_spark")):
        print(f"pipebench: no timberjack_spark package under {ROOT}", file=sys.stderr)
        return 2
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    settings = host_settings()
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    sys.path.insert(0, ROOT)
    try:
        if args.smoke:
            return smoke(settings)
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload]
        turns = args.turns or wl.turns
        if args.trace:
            import layers

            info, result = layers.traced(wl, args.seed, args.seconds, turns, settings)
        else:
            info, result = bench(wl, args.seed, args.seconds, turns, settings)
    finally:
        shutil.rmtree(os.path.join(WORK, "corpus"), ignore_errors=True)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
