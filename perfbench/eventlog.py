"""Fold a Spark event log (uncompressed JSON lines) into per-job-group
execution metrics: the ``exec.*`` layer of the benchmark.

Jobs carry the group the benchmark set with ``setJobGroup`` in their
``spark.jobGroup.id`` property. Jobs a library submits from its own
threads carry none; ``fold_groups`` hands those to a caller-supplied
function (the benchmark attributes them by submission time to the op
span that was open). SQL executions give the plan facts: join
strategies in the final adaptive plan and the scan nodes' row counts.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACC = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
MB = 1024.0 * 1024.0


def event_files(path: str) -> list[str]:
    """``path`` is one log file or the event-log dir of a single run."""
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if not f.startswith(".") and os.path.isfile(os.path.join(path, f)))


def read_events(path: str):
    for f in event_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", ()):
        yield from _plan_nodes(c)


def _is_scan(node: dict) -> bool:
    return not node.get("children") and (
        "Scan" in node["nodeName"] or node["nodeName"] == "Range")


def _new_job() -> dict:
    return {"group": None, "execution": None, "submit_ms": 0, "stages": [],
            "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
            "end_ms": None, "task_failures": 0}


def parse(events) -> dict:
    """One pass over the events → ``{"jobs": {id: job}, "stages": {id:
    stage}, "executions": {id: execution}}``; a job's numbers are sums
    over its tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[int]] = defaultdict(list)
    stages: dict[int, dict] = {}
    execs: dict[int, dict] = {}
    acc: dict[int, int] = defaultdict(int)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            j = _new_job()
            props = e.get("Properties") or {}
            j["group"] = props.get("spark.jobGroup.id")
            ex = props.get("spark.sql.execution.id")
            j["execution"] = int(ex) if ex not in (None, "") else None
            j["submit_ms"] = e["Submission Time"]
            j["stages"] = list(e["Stage IDs"])
            jobs[e["Job ID"]] = j
            for s in e["Stage IDs"]:
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = {"job": stage_job.get(info["Stage ID"]),
                                        "start_ms": info.get("Submission Time"),
                                        "end_ms": info.get("Completion Time")}
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"], -1))
            info = e.get("Task Info") or {}
            for a in info.get("Accumulables", ()):
                if a.get("Metadata") == "sql" and a.get("Name") == "number of output rows":
                    acc[a["ID"]] += int(a["Update"])
            if job is None:
                continue
            job["tasks"] += 1
            if e["Task End Reason"]["Reason"] != "Success" or info.get("Failed"):
                job["task_failures"] += 1
            m = e.get("Task Metrics") or {}
            if not m:
                continue
            job["run_ms"] += m["Executor Run Time"]
            job["cpu_ns"] += m["Executor CPU Time"]
            job["gc_ms"] += m["JVM GC Time"]
            job["spill_b"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            job["shuffle_write_b"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            r = m["Shuffle Read Metrics"]
            job["shuffle_read_b"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
            stage_tasks[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
        elif kind == SQL_START or kind == SQL_AQE:
            x = execs.setdefault(e["executionId"], {"group": None, "plan": None,
                                                    "scan_accs": set()})
            if kind == SQL_START:
                x["group"] = e.get("jobGroupId")
            x["plan"] = e["sparkPlanInfo"]     # the last update is the final plan
            for n in _plan_nodes(e["sparkPlanInfo"]):
                if _is_scan(n):
                    x["scan_accs"].update(m["accumulatorId"] for m in n["metrics"]
                                          if m["name"] == "number of output rows")
        elif kind == SQL_DRIVER_ACC:
            for acc_id, value in e["accumUpdates"]:
                acc[acc_id] += int(value)
    for s, durs in stage_tasks.items():
        jobs[stage_job[s]].setdefault("stage_task_ms", {})[s] = durs
    out_execs = {}
    for xid, x in execs.items():
        names = [n["nodeName"] for n in _plan_nodes(x["plan"])] if x["plan"] else []
        out_execs[xid] = {
            "group": x["group"],
            "bhj": sum(n == "BroadcastHashJoin" for n in names),
            "smj": sum(n == "SortMergeJoin" for n in names),
            "scan_rows": sum(acc.get(a, 0) for a in x["scan_accs"]),
        }
    return {"jobs": jobs, "stages": stages, "executions": out_execs}


def _skew(durs: list[int]) -> float:
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


def fold_groups(parsed: dict, assign=None) -> dict[str, dict]:
    """Per job group: job/stage/task counts, executor run/CPU/GC seconds,
    shuffle and spill MB, task skew and failures, final-plan join
    strategies and scan rows. ``assign(job) -> group | None`` names the
    group of a job that carries none (unassigned jobs are dropped)."""
    out: dict[str, dict] = {}
    exec_group: dict[int, str] = {}
    for jid in sorted(parsed["jobs"]):
        j = parsed["jobs"][jid]
        g = j["group"] or (assign(j) if assign else None)
        if g is None:
            continue
        if j["execution"] is not None:
            exec_group.setdefault(j["execution"], g)
        m = out.setdefault(g, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "task_skew": 1.0,
            "task_failures": 0, "final_bhj": 0, "final_smj": 0,
            "scan_rows": 0})
        m["jobs"] += 1
        m["stages"] += len(j.get("stage_task_ms", {}))
        m["tasks"] += j["tasks"]
        m["executor_run_s"] += j["run_ms"] / 1e3
        m["executor_cpu_s"] += j["cpu_ns"] / 1e9
        m["gc_s"] += j["gc_ms"] / 1e3
        m["shuffle_write_mb"] += j["shuffle_write_b"] / MB
        m["shuffle_read_mb"] += j["shuffle_read_b"] / MB
        m["spill_mb"] += j["spill_b"] / MB
        m["task_failures"] += j["task_failures"]
        for durs in j.get("stage_task_ms", {}).values():
            m["task_skew"] = max(m["task_skew"], _skew(durs))
    for xid, x in parsed["executions"].items():
        g = x["group"] or exec_group.get(xid)
        if g in out:
            out[g]["final_bhj"] += x["bhj"]
            out[g]["final_smj"] += x["smj"]
            out[g]["scan_rows"] += x["scan_rows"]
    return out
