"""Spark event-log parser: per-operation engine metrics.

The traced run turns on ``spark.eventLog.enabled`` with compression off,
so Spark 4.1 writes plain JSON lines (``eventlog_v2_*/events_*``). Every
job is attributed to the benchmark operation that caused it: by the job
group the benchmark sets around each operation, or, for jobs submitted
from engine background threads (which do not inherit the group), by the
operation whose wall-clock window contains the job's submission.

Per operation this yields jobs, stages and tasks; driver-only time (the
operation's wall time not covered by any of its jobs); task wait (task
launch minus stage submission); executor run, CPU and GC time; shuffle
and spill bytes; failed tasks; and the SQL plan metrics "time to
broadcast", "scan time" and the Python-worker metrics.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

from spans import union_seconds

# SQL plan-node metric name -> (output key, scale to seconds / bytes).
SQL_METRICS = {
    "time to broadcast": ("spark.broadcast_s", 1e-3),
    "scan time": ("spark.scan_s", 1e-3),
    "time to start Python workers": ("python.boot_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1.0),
    "data returned from Python workers": ("python.bytes_received", 1.0),
}
TASK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.task_wait_s", "spark.executor_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
)


@dataclass
class Op:
    """One benchmark operation: its job group and wall-clock window
    (epoch seconds)."""

    group: str
    start: float
    end: float
    metrics: dict[str, float] = field(default_factory=dict)
    job_spans: list[tuple[float, float]] = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    """The event-log parts Spark wrote under ``log_dir``, in write order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def attribute(log_dir: str, ops: list[Op]) -> None:
    """Fill each ``Op.metrics`` from the event log under ``log_dir``."""
    by_group = {op.group: op for op in ops}
    job_op: dict[int, Op] = {}
    job_times: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    exec_group: dict[int, Op] = {}
    accum_name: dict[int, str] = {}
    for op in ops:
        for k in TASK_KEYS + tuple(v[0] for v in SQL_METRICS.values()):
            op.metrics[k] = 0.0

    def op_at(t: float) -> Op | None:
        for op in ops:
            if op.start <= t <= op.end:
                return op
        return None

    def plan_names(node: dict) -> None:
        for m in node.get("metrics", []):
            accum_name[m["accumulatorId"]] = m["name"]
        for ch in node.get("children", []):
            plan_names(ch)

    def add_sql(op: Op | None, name: str | None, value) -> None:
        if op is None or name not in SQL_METRICS:
            return
        key, scale = SQL_METRICS[name]
        op.metrics[key] += float(value) * scale

    for path in event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a truncated last line of a still-open log
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    t = ev["Submission Time"] / 1000.0
                    op = by_group.get(props.get("spark.jobGroup.id")) or op_at(t)
                    if op is None:
                        continue
                    jid = ev["Job ID"]
                    job_op[jid] = op
                    job_times[jid] = t
                    op.metrics["spark.jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    ex = props.get("spark.sql.execution.id")
                    if ex is not None:
                        exec_group.setdefault(int(ex), op)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_op:
                        job_op[jid].job_spans.append(
                            (job_times[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if info.get("Submission Time"):
                        stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    op = job_op.get(stage_job.get(info["Stage ID"], -1))
                    if op is None:
                        continue
                    op.metrics["spark.stages"] += 1
                    for acc in info.get("Accumulables", []):
                        add_sql(op, acc.get("Name"), acc.get("Value") or 0)
                elif kind == "SparkListenerTaskEnd":
                    op = job_op.get(stage_job.get(ev["Stage ID"], -1))
                    if op is None:
                        continue
                    m = op.metrics
                    info = ev["Task Info"]
                    tm = ev.get("Task Metrics") or {}
                    m["spark.tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        m["spark.failed_tasks"] += 1
                    submit = stage_submit.get(ev["Stage ID"])
                    if submit is not None:
                        m["spark.task_wait_s"] += max(0.0, info["Launch Time"] / 1000.0 - submit)
                    m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    m["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    m["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    m["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plan_names(ev.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    # Driver-side plan metrics ("time to broadcast"); task-side
                    # ones arrive summed in StageCompleted's accumulables.
                    op = exec_group.get(int(ev.get("executionId", -1)))
                    for acc_id, value in ev.get("accumUpdates", []):
                        name = accum_name.get(acc_id)
                        if name == "time to broadcast":
                            add_sql(op, name, value)

    for op in ops:
        covered = union_seconds(
            (max(s, op.start), min(e, op.end)) for s, e in op.job_spans if e > op.start
        )
        op.metrics["spark.driver_only_s"] = max(0.0, (op.end - op.start) - covered)
