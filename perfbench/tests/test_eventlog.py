"""The event-log parser against a recorded log (see record_eventlog.py for
the jobs behind it) and against hand-written events for the rules a
recorded log cannot pin down."""

import json
import os

import pytest

from eventlog import EventLog

TINY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "tiny_eventlog.jsonl")
WRITE = "Execute InsertIntoHadoopFsRelationCommand"


@pytest.fixture(scope="module")
def log() -> EventLog:
    return EventLog.read(TINY)


def _count(kind: str) -> int:
    with open(TINY) as fh:
        return sum(json.loads(line)["Event"] == kind for line in fh)


def test_every_task_and_stage_is_attributed_once(log):
    groups = log.groups.values()
    assert sum(g.tasks for g in groups) == _count("SparkListenerTaskEnd")
    assert sum(g.stages for g in groups) == _count("SparkListenerStageCompleted")
    assert sum(g.jobs for g in groups) == _count("SparkListenerJobStart")
    assert set(log.groups) == {"t/scan", "t/fetch", "t/json", ""}


def test_scan_group(log):
    g = log.select("t/scan")
    assert log.sql_total(g, ("number of output rows",), "Scan parquet") == 100
    assert log.sql_total(g, ("number of files read",), "Scan ") == 1
    assert log.nodes_run(g, "Scan parquet", "number of output rows") == 1
    assert g.input_bytes > 0
    assert g.shuffle_write_bytes == g.shuffle_read_bytes > 0
    assert log.sql_total(g, ("time to run Python workers",)) == 0


def test_fetch_group_python_boundary_and_write(log):
    g = log.select("t/fetch")
    assert log.sql_total(g, ("number of written files",), WRITE) == 2
    assert log.sql_total(g, ("number of output rows",), WRITE) == 40
    assert log.sql_total(g, ("written output",), WRITE) > 0
    sent = log.sql_total(g, ("data sent to Python workers",))
    returned = log.sql_total(g, ("data returned from Python workers",))
    assert 0 < sent < returned  # (url, id) in, the wide scrape schema out
    assert log.sql_total(g, ("time to run Python workers",)) > 0
    assert log.nodes_run(g, "Scan ", "number of files read") == 0


def test_json_group_counts_its_scan_node(log):
    g = log.select("t/json")
    assert log.nodes_run(g, "Scan json", "number of output rows") == 1
    assert log.sql_total(g, ("number of files read",), "Scan json") == 1


def test_select_merges_subgroups_on_path_boundaries(log):
    t = log.select("t")
    parts = [log.select(n) for n in ("t/scan", "t/fetch", "t/json")]
    assert t.jobs == sum(p.jobs for p in parts)
    assert t.tasks == sum(p.tasks for p in parts)
    assert log.select("t/sc").jobs == 0
    assert log.select("t/scan").jobs == log.groups["t/scan"].jobs


def _events(*events: dict) -> EventLog:
    return EventLog.parse(json.dumps(e) for e in events)


def _plan(*metrics: tuple[int, str, str]) -> dict:
    return {"nodeName": "Root", "metrics": [], "children": [
        {"nodeName": node, "metrics": [{"name": name, "accumulatorId": acc, "metricType": "sum"}],
         "children": []}
        for acc, node, name in metrics
    ]}


def test_driver_updates_keep_the_last_value_and_follow_the_execution():
    log = _events(
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "jobGroupId": "g", "sparkPlanInfo": _plan((1, "Scan parquet x", "number of files read"))},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[1, 3]]},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[1, 5]]},
    )
    assert log.sql_total(log.select("g"), ("number of files read",), "Scan") == 5


def test_task_updates_sum_and_match_plans_announced_later():
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 3,
        "Task Metrics": {"Executor Run Time": 10, "Executor CPU Time": 2_000_000, "JVM GC Time": 1,
                         "Disk Bytes Spilled": 0, "Input Metrics": {"Bytes Read": 9},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 4},
                         "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2,
                                                  "Fetch Wait Time": 6}},
        "Task Info": {"Accumulables": [
            {"ID": 9, "Name": "time to run Python workers", "Update": "250", "Internal": True},
            {"ID": 2, "Name": "internal.metrics.executorRunTime", "Update": 10, "Internal": True},
        ]},
    }
    log = _events(
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "g/a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
         "Properties": {"spark.jobGroup.id": "g/a"}},
        task, task,
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 4}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 1, "sparkPlanInfo": _plan((9, "ArrowEvalPython", "time to run Python workers"))},
    )
    g = log.select("g")
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 2)
    assert (g.exec_run_ms, g.exec_cpu_ns, g.gc_ms, g.input_bytes) == (20, 4_000_000, 2, 18)
    assert (g.shuffle_write_bytes, g.shuffle_read_bytes, g.fetch_wait_ms) == (8, 6, 12)
    assert log.sql_total(g, ("time to run Python workers",)) == 500
    assert log.nodes_run(g, "Arrow", "time to run Python workers") == 1
    assert log.groups[""].stages == 1  # a stage never submitted has no group
