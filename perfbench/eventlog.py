"""Stdlib parser for an uncompressed Spark event log (one JSON per line).

The traced run tags every operation with a job group, and Spark records
each job's group in its ``Properties``. This module attributes jobs,
stages and tasks to those groups, maps SQL-plan accumulator ids to metric
names (to find the Python-node metrics), and measures how much of a wall
interval had at least one task running (the rest is driver time).
"""

from __future__ import annotations

import json
from collections import Counter
from collections.abc import Callable, Iterable

_SQL = "org.apache.spark.sql.execution.ui."

#: SQL metric name of a Python node -> counter name. Spark's "time to
#: initialize Python workers" is left out: its task updates read as tens of
#: seconds per task on a 64-dimension embedding batch (Spark 4.1), which no
#: wall clock around the operation confirms.
PYTHON_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_recv",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
}

#: SQL metric the driver posts for a file scan -> counter name
SCAN_METRICS = {"size of files read": "scan_bytes"}

#: every counter ``EventLog.group_counters`` reports, zero when absent
COUNTERS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "scan_bytes", "scan_rows", "write_bytes",
    "py_bytes_sent", "py_bytes_recv", "py_run_s", "py_start_s",
)


def _plan_metrics(node: dict) -> Iterable[dict]:
    yield from node.get("metrics", ())
    for child in node.get("children", ()):
        yield from _plan_metrics(child)


class EventLog:
    """Jobs, stages, tasks and SQL metric names read from one event log.

    - ``job_group``: job id -> its job group
    - ``stage_group``: stage id -> the job group it was submitted under
    - ``execution_group``: SQL execution id -> job group of its first job
    - ``tasks``: one dict per finished task attempt
    - ``metric_names``: accumulator id -> ``(name, metric type)``
    - ``driver_accums``: ``(execution id, accumulator id, value)`` posted
      by the driver (file-scan sizes)
    """

    def __init__(self, lines: Iterable[str]):
        self.job_group: dict[int, str | None] = {}
        self.stage_group: dict[int, str | None] = {}
        self.execution_group: dict[int, str | None] = {}
        self.tasks: list[dict] = []
        self.metric_names: dict[int, tuple[str, str]] = {}
        self.driver_accums: list[tuple[int, int, float]] = []
        for line in lines:
            line = line.strip()
            if line:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            self.job_group[ev["Job ID"]] = group
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                self.execution_group.setdefault(int(exec_id), group)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            self.stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                "spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            for m in _plan_metrics(ev.get("sparkPlanInfo") or {}):
                self.metric_names[m["accumulatorId"]] = (
                    m["name"], m.get("metricType", "sum"))
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, value in ev.get("accumUpdates", ()):
                self.driver_accums.append(
                    (ev["executionId"], aid, float(value)))
        elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in ev.get("sqlPlanMetrics", ()):
                self.metric_names[m["accumulatorId"]] = (
                    m["name"], m.get("metricType", "sum"))

    def _task(self, ev: dict) -> None:
        info = ev.get("Task Info") or {}
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        inp = tm.get("Input Metrics") or {}
        out = tm.get("Output Metrics") or {}
        accums = {}
        for a in info.get("Accumulables", ()):
            try:
                accums[a["ID"]] = float(a.get("Update", 0) or 0)
            except (TypeError, ValueError):
                continue  # non-numeric accumulator (block statuses)
        self.tasks.append({
            "stage": ev.get("Stage ID"),
            "launch_ms": info.get("Launch Time", 0),
            "finish_ms": info.get("Finish Time", 0),
            "run_ms": tm.get("Executor Run Time", 0),
            "cpu_ns": tm.get("Executor CPU Time", 0),
            "gc_ms": tm.get("JVM GC Time", 0),
            "spill_bytes": (tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0)),
            "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0)),
            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
            "scan_rows": inp.get("Records Read", 0),
            "write_bytes": out.get("Bytes Written", 0),
            "accums": accums,
        })

    def group_counters(
        self, resolve: Callable[[str | None], str | None] | None = None
    ) -> dict[str | None, Counter]:
        """Counters per job group. ``resolve(group)`` may map a group to
        the one it is counted under: a streaming query runs its jobs under
        its own id, not under the caller's group."""
        resolve = resolve or (lambda group: group)
        out: dict[str | None, Counter] = {}

        def bucket(group):
            return out.setdefault(group, Counter({c: 0 for c in COUNTERS}))

        for group in self.job_group.values():
            bucket(resolve(group))["jobs"] += 1
        stage_group = {sid: resolve(g) for sid, g in self.stage_group.items()}
        for group in stage_group.values():
            bucket(group)["stages"] += 1
        for t in self.tasks:
            c = bucket(stage_group.get(t["stage"]))
            c["tasks"] += 1
            c["task_s"] += t["run_ms"] / 1e3
            c["cpu_s"] += t["cpu_ns"] / 1e9
            c["gc_s"] += t["gc_ms"] / 1e3
            for k in ("spill_bytes", "shuffle_read_bytes",
                      "shuffle_write_bytes", "scan_rows", "write_bytes"):
                c[k] += t[k]
            for aid, value in t["accums"].items():
                name, mtype = self.metric_names.get(aid, ("", ""))
                key = PYTHON_METRICS.get(name)
                if key is None:
                    continue
                if mtype == "timing":
                    value /= 1e3
                elif mtype == "nsTiming":
                    value /= 1e9
                c[key] += value
        for exec_id, aid, value in self.driver_accums:
            key = SCAN_METRICS.get(self.metric_names.get(aid, ("",))[0])
            if key is not None:
                bucket(resolve(self.execution_group.get(exec_id)))[key] += value
        return out

    def busy_s(self, start_ms: float, end_ms: float) -> float:
        """Seconds of ``[start_ms, end_ms]`` during which at least one
        task was running."""
        spans = sorted(
            (max(t["launch_ms"], start_ms), min(t["finish_ms"], end_ms))
            for t in self.tasks
            if t["finish_ms"] > start_ms and t["launch_ms"] < end_ms)
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in spans:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return busy / 1e3


def parse(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return EventLog(fh)
