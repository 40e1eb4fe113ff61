"""Spark event-log reader: task metrics, SQL operator metrics, job spans.

Reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled=true`` and sums, over the jobs submitted inside a
time window:

* task-end metrics: executor run / CPU / GC time, input, shuffle read and
  write, spill, fetch wait, and per-stage task skew;
* SQL operator metrics, by operator: every ``accumulatorId`` declared in a
  plan (initial or adaptive) is attributed to its node, and the task and
  driver accumulator updates are summed per (node, metric). Parquet scans
  are split by the files they read (the raw inputs vs. anything else),
  and the rows entering each ``AggregateInPandas`` are taken from the
  exchange that feeds it;
* job intervals, for the driver time outside any job.
"""

from __future__ import annotations

import gzip
import json
import os
import statistics
from collections import defaultdict

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "AggregateInPandas",
                "FlatMapGroupsInPandasWithState")
# Spark 4.1 plans a grouped-aggregate pandas UDF as ArrowAggregatePython
_ALIASES = {"ArrowAggregatePython": "AggregateInPandas"}
_SQL = "org.apache.spark.sql.execution.ui."


def _log_files(path: str) -> list[str]:
    """An application's log: one file, or a rolling-log directory
    (``eventlog_v2_<app>/events_<n>_<app>``) read in index order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def _events(path: str):
    for f in _log_files(path):
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt", errors="replace") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _node_kind(node: dict, raw_prefixes) -> str | None:
    name = node.get("nodeName", "")
    if name.startswith("Scan parquet"):
        loc = (node.get("metadata") or {}).get("Location", "")
        raw = any(p in loc for p in raw_prefixes)
        return "scan.raw" if raw else "scan.other"
    for alias, kind in _ALIASES.items():
        if name.startswith(alias):
            return kind
    for kind in PYTHON_NODES:
        if name.startswith(kind):
            return kind
    return None


def _feeding_exchange(node: dict) -> dict | None:
    """The first Exchange below ``node`` (through sorts and AQE stages)."""
    for child in node.get("children", []):
        if child.get("nodeName", "").startswith("Exchange"):
            return child
        found = _feeding_exchange(child)
        if found is not None:
            return found
    return None


def _declare(plan: dict, raw_prefixes, acc: dict) -> None:
    """Map each accumulator id in ``plan`` to (node kind, metric name)."""
    kind = _node_kind(plan, raw_prefixes)
    if kind is not None:
        for m in plan.get("metrics", []):
            acc[m["accumulatorId"]] = (kind, m["name"])
        if kind == "AggregateInPandas":
            ex = _feeding_exchange(plan)
            for m in (ex or {}).get("metrics", []):
                if m["name"] == "shuffle records written":
                    acc[m["accumulatorId"]] = (kind, "input rows")
    for child in plan.get("children", []):
        _declare(child, raw_prefixes, acc)


def read(path: str, t0: float, t1: float,
         raw_prefixes: tuple[str, ...] = ()) -> dict:
    """Sum the metrics of the jobs submitted in [t0, t1] (epoch seconds)
    in the event log of one application at ``path`` (file or rolling-log
    directory)."""
    acc_ids: dict[int, tuple[str, str]] = {}
    exec_time: dict[int, float] = {}
    driver_updates: list[tuple[int, int, int]] = []
    jobs: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    stages_in: set[int] = set()
    tasks: list[dict] = []
    for ev in _events(path):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            if "time" in ev:
                exec_time[ev["executionId"]] = ev["time"] / 1000.0
            _declare(ev.get("sparkPlanInfo") or {}, raw_prefixes, acc_ids)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, val in ev.get("accumUpdates", []):
                driver_updates.append((ev["executionId"], aid, val))
    in_window = {j for j, (s, _e) in jobs.items() if t0 <= s <= t1}
    for sid, j in stage_job.items():
        if j in in_window:
            stages_in.add(sid)

    out = defaultdict(float)
    nodes: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    per_stage: dict[int, list] = defaultdict(list)
    for ev in tasks:
        if ev.get("Stage ID") not in stages_in:
            continue
        info = ev.get("Task Info") or {}
        tm = ev.get("Task Metrics") or {}
        out["tasks"] += 1
        out["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
        out["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        out["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                               + tm.get("Disk Bytes Spilled", 0))
        im = tm.get("Input Metrics") or {}
        out["input_bytes"] += im.get("Bytes Read", 0)
        out["input_records"] += im.get("Records Read", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        out["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
        out["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
        sw = tm.get("Shuffle Write Metrics") or {}
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle_records"] += sw.get("Shuffle Records Written", 0)
        per_stage[ev["Stage ID"]].append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0))
        for a in info.get("Accumulables", []):
            key = acc_ids.get(a.get("ID"))
            if key is not None and isinstance(a.get("Update"), (int, float, str)):
                nodes[key[0]][key[1]] += float(a["Update"])
    execs = {e for e, t in exec_time.items() if t0 <= t <= t1}
    for eid, aid, val in driver_updates:
        key = acc_ids.get(aid)
        if key is not None and eid in execs:
            nodes[key[0]][key[1]] += float(val)

    skews = [max(d) / statistics.fmean(d) for d in per_stage.values()
             if len(d) > 1 and statistics.fmean(d) > 0]
    out["task_skew"] = statistics.fmean(skews) if skews else 1.0
    out["jobs"] = float(len(in_window))
    out["stages"] = float(len(stages_in))
    result = dict(out)
    result["job_intervals"] = [tuple(jobs[j]) for j in sorted(in_window)
                               if jobs[j][1] is not None]
    result["nodes"] = {k: dict(v) for k, v in nodes.items()}
    return result
