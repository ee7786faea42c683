"""Spark event-log reader and stage classifier.

Reads the JSON-lines event log Spark writes with
`spark.eventLog.enabled=true`, `spark.eventLog.compress=false` and
`spark.eventLog.rolling.enabled=false`, and summarises it per benchmark
action. The benchmark runs each action under its own job group, so an
action's jobs and stages are found by the `spark.jobGroup.id` property.

Stages are classified by the RDD scope names Spark records for them
(`MapInPandas`, `Window`, `Exchange`, `Scan parquet`, ...), never by stage
id: stage ids shift whenever the plan gains or loses a stage.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

# Physical operators whose stage hands rows to Python workers.
UDF_SCOPES = frozenset({
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas",
})

# SQL metrics the Python runner reports on a UDF stage (milliseconds,
# summed over the stage's tasks).
PYTHON_METRICS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
}


def classify(scopes: set[str]) -> str:
    """Stage kind from its RDD scope names.

    A stage fuses several operators, so the most specific one wins: a
    stage that feeds Python is 'udf' even though it also scans and writes
    shuffle output; a stage that reads a shuffle into a Window is
    'window'; a stage that builds a broadcast relation is 'broadcast'
    even though it scans.
    """
    if scopes & UDF_SCOPES:
        return "udf"
    if "Window" in scopes:
        return "window"
    if "BroadcastExchange" in scopes:
        return "broadcast"
    if any(s.startswith("Scan ") for s in scopes):
        return "scan"
    if scopes & {"Exchange", "AQEShuffleRead", "ShuffleQueryStage"}:
        return "exchange"
    return "other"


@dataclass
class Stage:
    stage_id: int
    attempt: int
    group: str | None = None
    scopes: set[str] = field(default_factory=set)
    submit_ms: int | None = None
    complete_ms: int | None = None
    task_run_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    deser_ms: int = 0
    shuffle_write_bytes: int = 0
    python: dict[str, int] = field(default_factory=dict)

    @property
    def kind(self) -> str:
        return classify(self.scopes)


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    complete_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)
    execution_id: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    # SQL plan metrics the driver updates itself (e.g. a scan's "size of
    # files read"): accumulator id -> name, and per-execution updates
    sql_metric_names: dict[int, str] = field(default_factory=dict)
    driver_accums: dict[int, list[tuple[int, int]]] = field(
        default_factory=dict)

    def driver_metric(self, execution_ids, name: str) -> int:
        return sum(v for e in execution_ids
                   for acc, v in self.driver_accums.get(e, [])
                   if self.sql_metric_names.get(acc) == name)


_SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListener"


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _scope_name(rdd: dict) -> str | None:
    scope = rdd.get("Scope")
    if not scope:
        return None
    try:
        return json.loads(scope).get("name")
    except (TypeError, ValueError):
        return None


def parse(lines) -> EventLog:
    """Event-log lines (str) -> jobs and completed stages with task sums."""
    log = EventLog()
    stage_group: dict[int, str | None] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                      ev["Submission Time"],
                      stage_ids=list(ev.get("Stage IDs", [])),
                      execution_id=None if exec_id is None else int(exec_id))
            log.jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_group[sid] = job.group
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.complete_ms = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = _stage(log, ev["Stage ID"], ev["Stage Attempt ID"])
            m = ev.get("Task Metrics") or {}
            st.task_run_ms.append(int(m.get("Executor Run Time", 0)))
            st.gc_ms += int(m.get("JVM GC Time", 0))
            st.deser_ms += int(m.get("Executor Deserialize Time", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = _stage(log, info["Stage ID"], info["Stage Attempt ID"])
            st.submit_ms = info.get("Submission Time")
            st.complete_ms = info.get("Completion Time")
            st.scopes = {n for n in map(_scope_name, info.get("RDD Info", []))
                         if n}
            for acc in info.get("Accumulables", []):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key is not None:
                    st.python[key] = st.python.get(key, 0) \
                        + int(acc.get("Value", 0))
        elif kind in (_SQL_EVENT + "SQLExecutionStart",
                      _SQL_EVENT + "SQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev.get("sparkPlanInfo") or {},
                          log.sql_metric_names)
        elif kind == _SQL_EVENT + "DriverAccumUpdates":
            log.driver_accums.setdefault(ev["executionId"], []).extend(
                (int(a), int(v)) for a, v in ev.get("accumUpdates", []))
    for (sid, _attempt), st in log.stages.items():
        st.group = stage_group.get(sid)
    return log


def _stage(log: EventLog, sid: int, attempt: int) -> Stage:
    key = (sid, attempt)
    if key not in log.stages:
        log.stages[key] = Stage(sid, attempt)
    return log.stages[key]


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def stage_totals(stages: list[Stage]) -> dict[str, float]:
    """Task-time, count and byte sums over some stages (times in s)."""
    runs = [t for st in stages for t in st.task_run_ms]
    med = statistics.median(runs) if runs else 0
    out = {
        "task_s": sum(runs) / 1000.0,
        "wall_s": sum((st.complete_ms or 0) - (st.submit_ms or 0)
                      for st in stages) / 1000.0,
        "tasks": float(len(runs)),
        "task_skew": (max(runs) / med) if med else 0.0,
        "gc_s": sum(st.gc_ms for st in stages) / 1000.0,
        "deser_s": sum(st.deser_ms for st in stages) / 1000.0,
        "shuffle_write_bytes": float(sum(st.shuffle_write_bytes
                                         for st in stages)),
    }
    for key in PYTHON_METRICS.values():
        out[key] = float(sum(st.python.get(key, 0) for st in stages))
    return out


def action_summary(log: EventLog, group: str, start_ms: float,
                   end_ms: float) -> dict:
    """One action (job group) -> stages by kind plus driver-side timing.

    start_ms/end_ms are the wall-clock bounds of the action call as seen
    by the caller. plan_s is the time from the call to the first job
    submission, tail_s the time from the last job end to the return, and
    gap_s the time inside the jobs' span when no stage was running.
    """
    jobs = [j for j in log.jobs.values() if j.group == group]
    stages = [st for st in log.stages.values()
              if st.group == group and st.complete_ms is not None]
    by_kind: dict[str, list[Stage]] = {}
    for st in stages:
        by_kind.setdefault(st.kind, []).append(st)
    if jobs:
        first = min(j.submit_ms for j in jobs)
        last = max(j.complete_ms or j.submit_ms for j in jobs)
        busy = _union_ms([(st.submit_ms, st.complete_ms) for st in stages
                          if st.submit_ms is not None])
        plan_s = (first - start_ms) / 1000.0
        tail_s = (end_ms - last) / 1000.0
        gap_s = max(0, (last - first) - busy) / 1000.0
    else:
        plan_s = tail_s = gap_s = 0.0
    executions = {j.execution_id for j in jobs
                  if j.execution_id is not None}
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "files_read_bytes": log.driver_metric(executions,
                                              "size of files read"),
        "plan_s": plan_s,
        "gap_s": gap_s,
        "tail_s": tail_s,
        "all": stage_totals(stages),
        "kinds": {k: stage_totals(v) for k, v in by_kind.items()},
    }
