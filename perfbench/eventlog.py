"""Parser for Spark's JSON event log (the public
``spark.eventLog.enabled`` mechanism).

Reads an uncompressed log — a single file, or a rolling
``eventlog_v2_*`` directory of ``events_<n>_*`` parts — and keeps what
the per-layer metrics need: jobs with their submission time, SQL
execution and stages; per-stage task totals; whether a stage runs a
Python exec; and per SQL execution its start time and the operator
counts of the final (adaptive) plan.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

# RDD scope names of the physical operators that run Python workers.
PYTHON_SCOPE = re.compile(r"Python|Pandas|InArrow|Arrow(Eval|Window)")
PLAN_NODES = {
    "SortMergeJoin": "smj",
    "ShuffledHashJoin": "shj",
    "BroadcastHashJoin": "bhj",
    "Exchange": "exchanges",
}
_WANTED = (
    '"SparkListenerJobStart"',
    '"SparkListenerStageCompleted"',
    '"SparkListenerTaskEnd"',
    "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass
class StageTotals:
    tasks: int = 0
    empty_tasks: int = 0
    input_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python: bool = False


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    execution_id: int | None


@dataclass
class Execution:
    execution_id: int
    start_ms: int
    plan_counts: dict[str, int] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, StageTotals] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)


def log_files(path: str) -> list[str]:
    """The event-log files under ``path``, in write order."""
    if os.path.isfile(path):
        return [path]
    out: list[str] = []
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith(".") or fn.endswith((".inprogress.crc", ".crc")):
                continue
            if fn.startswith("appstatus_"):
                continue
            out.append(os.path.join(root, fn))

    def order(p: str):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    return sorted(out, key=order)


def _plan_counts(info: dict) -> dict[str, int]:
    counts = {v: 0 for v in PLAN_NODES.values()}
    stack = [info]
    while stack:
        node = stack.pop()
        key = PLAN_NODES.get(node.get("nodeName", ""))
        if key:
            counts[key] += 1
        stack.extend(node.get("children", ()))
    return counts


def _stage(log: EventLog, sid: int) -> StageTotals:
    st = log.stages.get(sid)
    if st is None:
        st = log.stages[sid] = StageTotals()
    return st


def _is_python_stage(info: dict) -> bool:
    for rdd in info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope:
            try:
                name = json.loads(scope).get("name", "")
            except ValueError:
                name = scope
            if PYTHON_SCOPE.search(name):
                return True
        if PYTHON_SCOPE.search(rdd.get("Name", "")):
            return True
    return False


def _task_end(log: EventLog, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st = _stage(log, ev["Stage ID"])
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    st.tasks += 1
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    st.input_bytes += inp.get("Bytes Read", 0)
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    read = inp.get("Records Read", 0) + sr.get("Total Records Read", 0)
    if read == 0:
        st.empty_tasks += 1
    if inp.get("Bytes Read", 0) > 0 or inp.get("Records Read", 0) > 0:
        st.input_tasks += 1


def parse(path: str) -> EventLog:
    log = EventLog()
    for fp in log_files(path):
        with open(fp, encoding="utf-8") as fh:
            for line in fh:
                if not any(w in line[:120] for w in _WANTED):
                    continue
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a live log
                kind = ev.get("Event", "")
                if kind == "SparkListenerTaskEnd":
                    _task_end(log, ev)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    xid = props.get("spark.sql.execution.id")
                    log.jobs.append(
                        Job(
                            ev["Job ID"],
                            ev["Submission Time"],
                            list(ev.get("Stage IDs", ())),
                            int(xid) if xid not in (None, "") else None,
                        )
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if _is_python_stage(info):
                        _stage(log, info["Stage ID"]).python = True
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    xid = ev["executionId"]
                    log.executions[xid] = Execution(
                        xid, ev["time"], _plan_counts(ev["sparkPlanInfo"])
                    )
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    x = log.executions.get(ev["executionId"])
                    if x is not None:
                        x.plan_counts = _plan_counts(ev["sparkPlanInfo"])
    return log


def window_totals(log: EventLog, windows: list[tuple[float, float]]) -> dict:
    """Sum the log's work over jobs submitted inside any of ``windows``
    (epoch seconds, half-open). Stages shared by several jobs count once;
    SQL executions count by the first job they submit."""
    def inside(ms: int) -> bool:
        s = ms / 1000.0
        return any(a <= s < b for a, b in windows)

    jobs = [j for j in log.jobs if inside(j.submit_ms)]
    stage_ids = {sid for j in jobs for sid in j.stage_ids}
    stages = [log.stages[s] for s in stage_ids if s in log.stages]
    run = [s for s in stages if s.tasks]
    first_job: dict[int, int] = {}
    for j in jobs:
        if j.execution_id is not None:
            first_job[j.execution_id] = min(
                first_job.get(j.execution_id, j.submit_ms), j.submit_ms
            )
    plan_ms = 0
    plan_counts = {v: 0 for v in PLAN_NODES.values()}
    for xid, t_job in first_job.items():
        x = log.executions.get(xid)
        if x is None:
            continue
        plan_ms += max(0, t_job - x.start_ms)
        for k, v in x.plan_counts.items():
            plan_counts[k] += v
    tot = {
        "jobs": len(jobs),
        "stages": len(run),
        "tasks": sum(s.tasks for s in run),
        "empty_tasks": sum(s.empty_tasks for s in run),
        "input_tasks": sum(s.input_tasks for s in run),
        "run_s": sum(s.run_ms for s in run) / 1e3,
        "cpu_s": sum(s.cpu_ns for s in run) / 1e9,
        "gc_s": sum(s.gc_ms for s in run) / 1e3,
        "input_mb": sum(s.input_bytes for s in run) / 2**20,
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in run) / 2**20,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in run) / 2**20,
        "spill_mb": sum(s.spill_bytes for s in run) / 2**20,
        "py_tasks": sum(s.tasks for s in run if s.python),
        "py_run_s": sum(s.run_ms for s in run if s.python) / 1e3,
        "py_cpu_s": sum(s.cpu_ns for s in run if s.python) / 1e9,
        "plan_s": plan_ms / 1e3,
        "executions": len(first_job),
    }
    tot.update({f"aqe.{k}": v for k, v in plan_counts.items()})
    return tot
