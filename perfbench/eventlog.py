"""Spark event-log reader: per-job counts, times and bytes.

Reads the uncompressed single-file event log a traced run writes and
returns one record per job with its job tags, its streaming batch id (for
jobs a micro-batch submits), task count, executor run time, shuffle bytes
written, bytes spilled, bytes sent to and returned from Python workers,
and the wait from job submission to its first task launch.

Python-boundary bytes are the SQL metrics ``data sent to Python workers``
and ``data returned from Python workers`` of the Python exec nodes
(ArrowEvalPython, FlatMapGroupsInPandas, MapInPandas and their kin); their
accumulator ids come from the SQL plan events and their values from the
task-end accumulable updates.
"""

from __future__ import annotations

import json
import os

PY_METRICS = ("data sent to Python workers", "data returned from Python workers")
PY_NODE_MARKERS = ("Python", "Pandas", "InArrow")

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def find_log(eventlog_dir: str) -> str:
    names = [n for n in os.listdir(eventlog_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, found {names}")
    return os.path.join(eventlog_dir, names[0])


def _python_accumulators(plan: dict, out: set[int]) -> None:
    if any(m in plan.get("nodeName", "") for m in PY_NODE_MARKERS):
        for m in plan.get("metrics", ()):
            if m.get("name") in PY_METRICS:
                out.add(int(m["accumulatorId"]))
    for c in plan.get("children", ()):
        _python_accumulators(c, out)


def read_jobs(path: str) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_acc: set[int] = set()
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tags = props.get("spark.job.tags") or ""
                jid = int(ev["Job ID"])
                jobs[jid] = {
                    "job_id": jid,
                    "tags": [t for t in tags.split(",") if t],
                    "batch_id": props.get("streaming.sql.batchId"),
                    "submit_ms": ev.get("Submission Time"),
                    "end_ms": None,
                    "tasks": 0,
                    "executor_ms": 0,
                    "shuffle_write_bytes": 0,
                    "spill_bytes": 0,
                    "python_bytes": 0,
                    "first_launch_ms": None,
                }
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(int(sid), jid)
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(int(ev["Job ID"]))
                if j is not None:
                    j["end_ms"] = ev.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind in (SQL_START, SQL_ADAPTIVE):
                _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    for ev in tasks:
        jid = stage_job.get(int(ev["Stage ID"]))
        j = jobs.get(jid)
        if j is None:
            continue
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        j["tasks"] += 1
        j["executor_ms"] += int(m.get("Executor Run Time", 0))
        j["shuffle_write_bytes"] += int(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        )
        j["spill_bytes"] += int(m.get("Memory Bytes Spilled", 0)) + int(
            m.get("Disk Bytes Spilled", 0)
        )
        for acc in info.get("Accumulables", ()):
            if int(acc.get("ID", -1)) in py_acc:
                j["python_bytes"] += int(acc.get("Update") or 0)
        launch = info.get("Launch Time")
        if launch is not None and (
            j["first_launch_ms"] is None or launch < j["first_launch_ms"]
        ):
            j["first_launch_ms"] = launch
    for j in jobs.values():
        j["sched_wait_ms"] = (
            j["first_launch_ms"] - j["submit_ms"]
            if j["first_launch_ms"] is not None and j["submit_ms"] is not None
            else 0
        )
    return [jobs[k] for k in sorted(jobs)]


def totals(jobs: list[dict]) -> dict[str, float]:
    keys = ("tasks", "executor_ms", "shuffle_write_bytes", "spill_bytes", "python_bytes")
    out = {k: float(sum(j[k] for j in jobs)) for k in keys}
    out["jobs"] = float(len(jobs))
    return out


def by_tag_field(jobs: list[dict], field: int) -> dict[str, list[dict]]:
    """Group jobs by one ``:``-separated field of their perfbench tag
    (2 = request family, 3 = request id)."""
    out: dict[str, list[dict]] = {}
    for j in jobs:
        for t in j["tags"]:
            parts = t.split(":")
            if parts[0] == "perfbench" and len(parts) > field:
                out.setdefault(parts[field], []).append(j)
    return out
