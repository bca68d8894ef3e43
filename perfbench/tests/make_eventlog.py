"""Regenerate ``data/eventlog_small.jsonl``, the event log the parser
tests read: a two-core Spark app that runs one shuffle under the job group
``g|shuffle|action`` and one pandas UDF under ``g|python|action``. Only
the events and fields the parser reads are kept, which also drops the
host's environment, paths and call sites.

Run from the root of a checkout::

    python3 perfbench/tests/make_eventlog.py
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
_SQL = "org.apache.spark.sql.execution.ui."
_PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")


def _plan(node: dict) -> dict:
    return {"nodeName": node.get("nodeName"),
            "metrics": node.get("metrics", []),
            "children": [_plan(c) for c in node.get("children", [])]}


def _keep(ev: dict) -> dict | None:
    """The part of ``ev`` the parser reads, or None to drop it."""
    kind = ev["Event"]
    props = {k: v for k, v in (ev.get("Properties") or {}).items()
             if k in _PROPS}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": ev["Job ID"], "Properties": props}
    if kind == "SparkListenerStageSubmitted":
        return {"Event": kind, "Properties": props,
                "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]}}
    if kind == "SparkListenerTaskEnd":
        info = ev["Task Info"]
        return {"Event": kind, "Stage ID": ev["Stage ID"],
                "Task Metrics": ev["Task Metrics"], "Task Info": {
                    "Launch Time": info["Launch Time"],
                    "Finish Time": info["Finish Time"],
                    "Accumulables": [
                        {k: a[k] for k in ("ID", "Name", "Update") if k in a}
                        for a in info.get("Accumulables", [])]}}
    if kind in (_SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
        return {"Event": kind, "executionId": ev["executionId"],
                "sparkPlanInfo": _plan(ev["sparkPlanInfo"])}
    if kind in (_SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates",
                _SQL + "SparkListenerDriverAccumUpdates"):
        return ev
    return None


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory(dir=HERE) as logdir:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.dir", f"file://{logdir}")
            .config("spark.sql.shuffle.partitions", "2")
            .getOrCreate())
        sc = spark.sparkContext
        sc.setJobGroup("g|shuffle|action", "shuffle")
        spark.range(1000, numPartitions=2).groupBy(
            F.col("id") % 3).count().collect()

        @F.pandas_udf("long")
        def plus_one(s):
            return s + 1

        sc.setJobGroup("g|python|action", "python")
        spark.range(1000, numPartitions=2).select(plus_one("id")).collect()
        spark.stop()
        (path,) = glob.glob(f"{logdir}/local-*")
        with open(path) as src, open(os.path.join(
                HERE, "data", "eventlog_small.jsonl"), "w") as dst:
            for line in src:
                kept = _keep(json.loads(line))
                if kept is not None:
                    dst.write(json.dumps(kept) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
