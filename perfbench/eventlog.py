"""Reader for Spark's event log (uncompressed, rolling ``eventlog_v2_*``
directory or a single plain file).

``read_event_log(path)`` folds the JSON-lines events into one ``Job``
per Spark job, carrying the job group and call site the driver set as
local properties when it submitted the job, and the summed task
metrics and Python SQL metrics of the stages the job ran. The
benchmark's traced run groups these by span (job group) and by Python
call site.

Task metrics come from ``SparkListenerTaskEnd``, so a retried stage is
counted per attempt actually run. The Python SQL metrics are named in
the SQL plan events (``sparkPlanInfo`` metrics carry the name and the
accumulator id) and valued in the completed stages' accumulables.
Jobs that adaptive execution submits carry no call site; they inherit
the call site of their SQL execution's first job that has one.
``text_input_mb`` is the input read by stages that scan a text file
(the XML release is read as text): all of such a stage's input, so an
upper bound when the stage scans parquet too.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

MB = 1024 * 1024

# Spark's SQL-metric names for the Arrow/Python boundary
# (PythonSQLMetrics): worker wall time and bytes each way
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

METRIC_KEYS = (
    "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "input_mb", "text_input_mb", "output_mb", "result_mb",
    "python_s", "to_python_mb", "from_python_mb",
)


def _zero() -> dict:
    return {k: 0.0 for k in METRIC_KEYS}


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str | None
    execution_id: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list = field(default_factory=list)
    stages: int = 0
    metrics: dict = field(default_factory=_zero)


def event_files(path: str) -> list[str]:
    """The event files of one application, in rolling order. ``path``
    is an ``eventlog_v2_*`` dir, a plain event file, or a directory
    holding exactly one application's log."""
    if os.path.isfile(path):
        return [path]
    rolled = glob.glob(os.path.join(path, "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    apps = glob.glob(os.path.join(path, "eventlog_v2_*")) + [
        p for p in glob.glob(os.path.join(path, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    ]
    if len(apps) != 1:
        raise ValueError(f"expected one application log under {path}, found {apps}")
    return event_files(apps[0])


def _scans_text(stage_info: dict) -> bool:
    return any('"name":"Scan text' in (r.get("Scope") or "") for r in stage_info.get("RDD Info", ()))


def _task_metrics(tm: dict, text_stage: bool) -> dict:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    input_mb = tm.get("Input Metrics", {}).get("Bytes Read", 0) / MB
    return {
        "tasks": 1,
        "task_s": tm.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "spill_mb": (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / MB,
        "input_mb": input_mb,
        "text_input_mb": input_mb if text_stage else 0.0,
        "output_mb": tm.get("Output Metrics", {}).get("Bytes Written", 0) / MB,
        "result_mb": tm.get("Result Size", 0) / MB,
    }


# SQL-metric name -> (job metric, divisor to seconds / MB); "timing"
# SQL metrics are recorded in milliseconds
_PY_METRICS = {
    PY_TIME: ("python_s", 1000.0),
    PY_SENT: ("to_python_mb", MB),
    PY_RETURNED: ("from_python_mb", MB),
}


def _plan_metric_ids(plan: dict, out: dict) -> None:
    """Collect accumulator id -> metric name for the Python SQL metrics
    of a ``sparkPlanInfo`` tree."""
    stack = [plan]
    while stack:
        node = stack.pop()
        for m in node.get("metrics", ()):
            if m.get("name") in _PY_METRICS:
                out[m["accumulatorId"]] = m["name"]
        stack.extend(node.get("children", ()))


def read_event_log(path: str) -> list[Job]:
    """Jobs of one application, in submission order."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    text_stages: set[int] = set()
    py_ids: dict[int, str] = {}
    stage_accs: list[tuple[int, list]] = []
    for fname in event_files(path):
        with open(fname, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        call_site=props.get("callSite.short"),
                        execution_id=props.get("spark.sql.execution.id"),
                        submit_ms=ev.get("Submission Time", 0),
                        stage_ids=list(ev.get("Stage IDs", [])),
                    )
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev.get("Completion Time")
                elif kind == "SparkListenerStageSubmitted":
                    info = ev.get("Stage Info", {})
                    if _scans_text(info):
                        text_stages.add(info.get("Stage ID"))
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    job = jobs.get(stage_job.get(sid))
                    if job is not None:
                        tm = _task_metrics(ev.get("Task Metrics") or {}, sid in text_stages)
                        for k, v in tm.items():
                            job.metrics[k] += v
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info", {})
                    job = jobs.get(stage_job.get(info.get("Stage ID")))
                    if job is not None:
                        job.stages += 1
                        stage_accs.append((job.job_id, info.get("Accumulables") or []))
                elif "sparkPlanInfo" in ev:
                    _plan_metric_ids(ev["sparkPlanInfo"], py_ids)
    for job_id, accs in stage_accs:
        for acc in accs:
            name = py_ids.get(acc.get("ID"))
            if name is not None and acc.get("Value") is not None:
                key, div = _PY_METRICS[name]
                jobs[job_id].metrics[key] += float(acc["Value"]) / div
    site: dict[str, str] = {}
    ordered = [jobs[k] for k in sorted(jobs)]
    for j in ordered:
        if j.call_site and j.execution_id is not None:
            site.setdefault(j.execution_id, j.call_site)
    for j in ordered:
        if not j.call_site:
            j.call_site = site.get(j.execution_id)
    return ordered


def summarize(jobs: list[Job]) -> dict:
    """Totals over ``jobs``: job and stage counts plus every metric."""
    out = {"jobs": len(jobs), "stages": sum(j.stages for j in jobs)}
    out.update(_zero())
    for j in jobs:
        for k, v in j.metrics.items():
            out[k] += v
    return out


def group_by(jobs: list[Job], key) -> dict:
    """``summarize`` per value of ``key(job)``."""
    groups: dict = {}
    for j in jobs:
        groups.setdefault(key(j), []).append(j)
    return {k: summarize(v) for k, v in groups.items()}
