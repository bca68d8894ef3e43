"""Tests for the event-log parser, against a small event log of a real
two-core Spark app (``make_eventlog.py`` regenerates it) and against
hand-made task intervals. Run with ``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import COUNTERS, EventLog, parse  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


def test_groups_are_attributed():
    counters = parse(LOG).group_counters()
    shuffle, python = counters["g|shuffle|action"], counters["g|python|action"]
    assert set(shuffle) == set(COUNTERS)
    assert shuffle["jobs"] >= 1 and python["jobs"] >= 1
    assert shuffle["shuffle_write_bytes"] > 0
    assert shuffle["shuffle_read_bytes"] > 0
    assert python["tasks"] == 2
    assert python["task_s"] > 0 and python["cpu_s"] > 0


def test_python_node_metrics_come_from_plan_accumulators():
    counters = parse(LOG).group_counters()
    python, shuffle = counters["g|python|action"], counters["g|shuffle|action"]
    assert python["py_bytes_sent"] > 0
    assert python["py_bytes_recv"] > 0
    assert python["py_run_s"] >= 0
    assert shuffle["py_bytes_sent"] == 0
    assert shuffle["py_bytes_recv"] == 0


def test_resolve_regroups_every_job_and_task():
    log = parse(LOG)
    by_group = log.group_counters()
    merged = log.group_counters(lambda group: "all")["all"]
    for c in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
        assert merged[c] == sum(v[c] for v in by_group.values())


def test_busy_time_stays_inside_the_window():
    log = parse(LOG)
    lo = min(t["launch_ms"] for t in log.tasks)
    hi = max(t["finish_ms"] for t in log.tasks)
    busy = log.busy_s(lo, hi)
    assert 0 < busy <= (hi - lo) / 1e3
    assert log.busy_s(hi, hi + 1000) == 0


def _task(stage, launch, finish):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {"Executor Run Time": finish - launch}})


def test_busy_time_merges_overlapping_tasks():
    log = EventLog([
        _task(0, 1000, 2000), _task(0, 1500, 2500),  # overlap: 1000-2500
        _task(1, 4000, 4500),                        # alone: 4000-4500
        _task(1, 9000, 9900),                        # outside the window
    ])
    assert log.busy_s(0, 5000) == 2.0
    assert log.busy_s(2000, 4250) == 0.75  # clipped at both ends


def test_scan_size_goes_to_the_group_of_its_sql_execution():
    sql = "org.apache.spark.sql.execution.ui."
    log = EventLog(json.dumps(ev) for ev in [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 3,
         "sparkPlanInfo": {"nodeName": "Scan parquet", "metrics": [
             {"name": "size of files read", "accumulatorId": 7,
              "metricType": "size"}], "children": []}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {
            "spark.jobGroup.id": "g", "spark.sql.execution.id": "3"}},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 3,
         "accumUpdates": [[7, 1234], [8, 99]]},
    ])
    counters = log.group_counters()
    assert counters["g"]["scan_bytes"] == 1234
    assert counters["g"]["jobs"] == 1
