"""Session, runner and corpus preparation shared by the untraced and traced runs."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".pipebench")
# With runs of about 3 s this fixes the sample count, so the median sits at the
# same point of the JIT warm-up in every run.
MIN_RUNS = 4


def host_settings() -> dict:
    """Size the session to this host before timberjack_spark.session is imported
    (its defaults assume a 32-core, 128 GiB box), and keep scratch files in WORK."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, mem_kb // 1024 // 4)}m",  # a quarter of RAM
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_EXTRA_JAVA": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",  # spark-submit's own JVM
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024, **env}


class Session:
    """The Spark session of this process; restartable in place, e.g. at another core count."""

    def __init__(self, cores: int, conf: dict[str, str]):
        self.cores = cores
        self.conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"), **conf}
        self.spark = None
        self._proc = None

    def start(self, cores: int | None = None):
        from timberjack_spark.fixtures import dim_role_df, dim_tool_df
        from timberjack_spark.session import get_spark

        self.spark = get_spark(cores=cores or self.cores, app_name="pipebench", extra_conf=self.conf)
        dim_role_df(self.spark), dim_tool_df(self.spark)
        self._proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def stop(self) -> None:
        from timberjack_spark.session import stop_spark

        stop_spark()
        self.spark = None

    @property
    def jvm_pid(self) -> int:
        return self._proc.pid

    def close(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and its Python
        workers have exited."""
        if self._proc is None:
            return
        import procstat
        from pyspark import SparkContext

        workers = procstat.tree(self._proc.pid)[1:]
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.stop()
        if gateway is not None:
            gateway.shutdown()
        self._proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            self._proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=60)
        procstat.reap(workers)


class Runner:
    """Times a workload's terminal call, checks each output and counts failures."""

    def __init__(self, session: Session, wl, ctx):
        self.session, self.wl, self.ctx = session, wl, ctx
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def timed(self, run_id: str, fn, check) -> dict:
        """Time ``fn()``, then ``check`` its output (an error message or None).
        Jobs carry ``run_id`` in the event log. A raise or a wrong output counts
        as a failed run and the benchmark goes on."""
        import procstat
        from eventlog import RUN_PROPERTY

        self.attempted += 1
        spark = self.ctx.spark = self.session.spark
        self.ctx.run_id = run_id
        spark.sparkContext.setLocalProperty(RUN_PROPERTY, run_id)
        pid = self.session.jvm_pid
        cpu0, t0 = procstat.cpu_seconds(pid), time.perf_counter()
        out, raised = None, False
        try:
            out = fn()
        except Exception as e:
            err, raised = f"{type(e).__name__}: {e}"[:500], True
        wall, cpu = time.perf_counter() - t0, procstat.cpu_seconds(pid) - cpu0
        if not raised:
            spark.sparkContext.setLocalProperty(RUN_PROPERTY, run_id + "/check")
            try:
                err = check(out)
            except Exception as e:
                err = f"check: {type(e).__name__}: {e}"[:500]
        if err is not None:
            self.fail(f"{run_id}: {err}")
        return {"run": run_id, "wall_s": wall, "proc_cpu_s": cpu, "ok": err is None, "raised": raised, "out": out}

    def once(self, run_id: str | None = None, sampler=None) -> dict:
        """One run of the workload in a fresh directory, deleted afterwards."""
        run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(WORK, "runs"))
        if sampler is not None:
            sampler.take_peak()
        try:
            sample = self.timed(
                run_id or f"{self.wl.name}/{self.attempted + 1}",
                lambda: self.wl.call(self.ctx, run_dir),
                lambda out: self.wl.check(self.ctx, out),
            )
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        out = sample.pop("out")
        if isinstance(out, dict) and "resume_s" in out:  # the resume workload's second phase
            sample["resume_s"] = out["resume_s"]
        if sampler is not None:
            sample["peak_rss_b"] = sampler.take_peak()
        return sample

    def fail(self, err: str) -> None:
        self.failed += 1
        self.errors.append(err)
        print(f"pipebench: failed: {err}", file=sys.stderr)

    def loop(self, seconds: float, sampler=None) -> list[dict]:
        samples, t_end = [], time.perf_counter() + seconds
        while len(samples) < MIN_RUNS or time.perf_counter() < t_end:
            samples.append(self.once(sampler=sampler))
        return samples


def prepare(session: Session, wl, seed: int, turns: int, parts=None):
    """Corpus and expected outputs (the workload's, or ``parts``), outside any timing."""
    import corpus
    import oracle
    from workloads import Ctx

    path = corpus.build(WORK, session.spark, wl.name, seed, turns)
    return Ctx(session.spark, path, oracle.expected(path, parts or wl.oracle_parts))
