"""Per-run stage metrics from Spark's JSON event log.

Every job a benchmark run submits carries the local property ``RUN_PROPERTY``
set to the run's id; the log's JobStart events map those ids to stage ids, and
the TaskEnd events of those stages give the metrics.

Task input bytes count reads of cached blocks as well as of files, so source
scans are counted as the rows output by the parquet scan nodes: the SQL plan
events name each scan node's row-count accumulator, and the tasks report its
updates.
"""

from __future__ import annotations

import json
import os
import statistics

RUN_PROPERTY = "pipebench.run"
_SQL = "org.apache.spark.sql.execution.ui."


def session_conf(log_dir: str) -> dict[str, str]:
    """Spark settings that write one uncompressed JSON event log to ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _scan_row_accumulators(plan: dict, out: set) -> None:
    if plan.get("nodeName", "").startswith("Scan parquet"):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == "number of output rows")
    for child in plan.get("children", []):
        _scan_row_accumulators(child, out)


class EventLog:
    def __init__(self, log_dir: str):
        self.jobs: dict[str, list[dict]] = {}  # run id -> [{id, stages, submit, end}]
        self.tasks: dict[tuple, list[dict]] = {}  # (log, stage id) -> task metrics
        for name in sorted(os.listdir(log_dir)):  # one log per application
            by_id: dict[int, dict] = {}
            scan_accs: set[int] = set()
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        run = (ev.get("Properties") or {}).get(RUN_PROPERTY)
                        job = {"id": ev["Job ID"], "stages": [(name, s) for s in ev["Stage IDs"]],
                               "submit": ev.get("Submission Time"), "end": None}
                        by_id[job["id"]] = job
                        if run is not None:
                            self.jobs.setdefault(run, []).append(job)
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in by_id:
                        by_id[ev["Job ID"]]["end"] = ev.get("Completion Time")
                    elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                        _scan_row_accumulators(ev["sparkPlanInfo"], scan_accs)
                    elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                        scan_rows = sum(int(a.get("Update", 0)) for a in ev["Task Info"].get("Accumulables", [])
                                        if a["ID"] in scan_accs)
                        self.tasks.setdefault((name, ev["Stage ID"]), []).append(
                            {**ev["Task Metrics"], "scan_rows": scan_rows})

    def run_jobs(self, run: str) -> list[dict]:
        return self.jobs.get(run, [])

    def job_scan_rows(self, job: dict) -> int:
        return sum(t["scan_rows"] for s in job["stages"] for t in self.tasks.get(s, []))

    def stage_metrics(self, run: str) -> dict[str, float]:
        stages = {s for job in self.run_jobs(run) for s in job["stages"]}
        tasks = [t for s in stages for t in self.tasks.get(s, [])]

        def total(get) -> float:
            return float(sum(get(t) for t in tasks))

        # task skew: max / median task run time in the stage with the most task time
        skew = 1.0
        busiest = max(stages, key=lambda s: sum(t["Executor Run Time"] for t in self.tasks.get(s, [])), default=None)
        times = [t["Executor Run Time"] for t in self.tasks.get(busiest, [])]
        if len(times) > 1 and statistics.median(times) > 0:
            skew = max(times) / statistics.median(times)
        return {
            "executor_cpu_s": total(lambda t: t["Executor CPU Time"]) / 1e9,
            "gc_s": total(lambda t: t["JVM GC Time"]) / 1e3,
            "shuffle_read_bytes": total(lambda t: t["Shuffle Read Metrics"]["Remote Bytes Read"]
                                        + t["Shuffle Read Metrics"]["Local Bytes Read"]),
            "shuffle_write_bytes": total(lambda t: t["Shuffle Write Metrics"]["Shuffle Bytes Written"]),
            "spill_bytes": total(lambda t: t["Memory Bytes Spilled"] + t["Disk Bytes Spilled"]),
            "input_bytes": total(lambda t: t["Input Metrics"]["Bytes Read"]),
            "scan_rows": total(lambda t: t["scan_rows"]),
            "tasks": float(len(tasks)),
            "task_skew": skew,
        }
