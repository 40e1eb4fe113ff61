"""The event-log reader on a tiny log written by the test itself.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

import json

import pytest

from perfbench import eventlog

SQL = "org.apache.spark.sql.execution.ui."


def _plan():
    scan = {"nodeName": "Scan parquet ", "children": [],
            "metadata": {"Location": "InMemoryFileIndex[file:/data/raw/x]"},
            "metrics": [{"name": "number of output rows", "accumulatorId": 1},
                        {"name": "scan time", "accumulatorId": 4},
                        {"name": "size of files read", "accumulatorId": 6}]}
    other = {"nodeName": "Scan parquet ", "children": [],
             "metadata": {"Location": "InMemoryFileIndex[file:/rollup]"},
             "metrics": [{"name": "number of output rows",
                          "accumulatorId": 7}]}
    mip = {"nodeName": "MapInPandas", "children": [scan],
           "metrics": [{"name": "data sent to Python workers",
                        "accumulatorId": 2},
                       {"name": "number of output rows", "accumulatorId": 3}]}
    exchange = {"nodeName": "Exchange", "children": [mip],
                "metrics": [{"name": "shuffle records written",
                             "accumulatorId": 5}]}
    sort = {"nodeName": "Sort", "children": [exchange], "metrics": []}
    agg = {"nodeName": "ArrowAggregatePython", "children": [sort, other],
           "metrics": []}
    return agg


def _task(stage, launch, finish, accums, run_ms=100, shuffle_written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Accumulables": [{"ID": i, "Update": u}
                                           for i, u in accums]},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": 50_000_000,
                "JVM GC Time": 5, "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0,
                "Input Metrics": {"Bytes Read": 1000, "Records Read": 10},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": 300,
                                         "Fetch Wait Time": 2},
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written": 200,
                    "Shuffle Records Written": shuffle_written}}}


@pytest.fixture()
def log(tmp_path):
    t0 = 1_000_000_000
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": t0 + 10, "Stage IDs": [0, 1]},
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "time": t0 + 5, "sparkPlanInfo": _plan()},
        _task(0, t0 + 20, t0 + 120, [(1, 10), (2, 4000), (3, 2), (4, 7)],
              shuffle_written=2),
        _task(0, t0 + 20, t0 + 420, [(1, 30), (2, 6000), (3, 3), (4, 9)],
              run_ms=400, shuffle_written=3),
        _task(1, t0 + 500, t0 + 600, [(5, 5), (7, 99)]),
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[6, 12345]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": t0 + 700},
        # a later job, outside the window
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": t0 + 90_000, "Stage IDs": [2]},
        _task(2, t0 + 90_010, t0 + 90_100, [(1, 1000)]),
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": t0 + 90_200},
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(path), t0 / 1000.0


def test_task_metrics_and_jobs_in_window(log):
    path, t0 = log
    ev = eventlog.read(path, t0, t0 + 10, raw_prefixes=("/data/raw",))
    assert ev["jobs"] == 1 and ev["stages"] == 2 and ev["tasks"] == 3
    assert ev["run_s"] == pytest.approx(0.6)
    assert ev["cpu_s"] == pytest.approx(0.15)
    assert ev["shuffle_read_bytes"] == 900
    assert ev["shuffle_records"] == 5
    assert ev["input_bytes"] == 3000
    # stage 0 tasks ran 100 ms and 400 ms: max / mean = 1.6
    assert ev["task_skew"] == pytest.approx(1.6)
    assert ev["job_intervals"] == [(t0 + 0.010, t0 + 0.700)]


def test_sql_operator_metrics(log):
    path, t0 = log
    nodes = eventlog.read(path, t0, t0 + 10,
                          raw_prefixes=("/data/raw",))["nodes"]
    assert nodes["scan.raw"] == {"number of output rows": 40,
                                 "scan time": 16, "size of files read": 12345}
    assert nodes["scan.other"] == {"number of output rows": 99}
    assert nodes["MapInPandas"] == {"data sent to Python workers": 10000,
                                    "number of output rows": 5}
    assert nodes["AggregateInPandas"] == {"input rows": 5}


def test_window_excludes_other_jobs(log):
    path, t0 = log
    ev = eventlog.read(path, t0 + 60, t0 + 120, raw_prefixes=("/data/raw",))
    assert ev["jobs"] == 1 and ev["tasks"] == 1
    assert ev["nodes"]["scan.raw"] == {"number of output rows": 1000}


def test_rolling_log_directory(log, tmp_path):
    path, t0 = log
    lines = open(path).read().splitlines(keepends=True)
    roll = tmp_path / "eventlog_v2_app-1"
    roll.mkdir()
    (roll / "appstatus_app-1").write_text("")
    (roll / "events_2_app-1").write_text("".join(lines[5:]))
    (roll / "events_10_app-1").write_text("")
    (roll / "events_1_app-1").write_text("".join(lines[:5]))
    assert eventlog.read(str(roll), t0, t0 + 10, ("/data/raw",)) == \
        eventlog.read(path, t0, t0 + 10, ("/data/raw",))
