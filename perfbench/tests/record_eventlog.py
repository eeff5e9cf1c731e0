"""Record the tiny event log that ``test_eventlog.py`` parses.

    python3 perfbench/tests/record_eventlog.py

Runs two small job groups on a local session with the event log on,
then keeps only the listener events and fields ``perfbench.eventlog``
reads, so the fixture holds no paths, host names or configuration.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

FIXTURE = os.path.join(HERE, "eventlog_fixture.jsonl")
KEEP_PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")
PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _plan(node: dict) -> dict:
    return {
        "nodeName": node["nodeName"].split(" ")[0] + (" parquet" if node["nodeName"].startswith("Scan ") else ""),
        "metrics": node.get("metrics", []),
        "children": [_plan(c) for c in node.get("children", [])],
    }


def _props(ev: dict) -> dict:
    props = ev.get("Properties") or {}
    return {k: props[k] for k in KEEP_PROPS if k in props}


def _slim(ev: dict) -> dict | None:
    kind = ev["Event"]
    if kind == "SparkListenerStageSubmitted":
        return {"Event": kind, "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]},
                "Properties": _props(ev)}
    if kind == "SparkListenerStageCompleted":
        return {"Event": kind, "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]}}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": ev["Job ID"], "Stage IDs": ev["Stage IDs"],
                "Properties": _props(ev)}
    if kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics")
        if m is None:
            return None
        return {
            "Event": kind,
            "Stage ID": ev["Stage ID"],
            "Task Info": {"Accumulables": [
                {"ID": a["ID"], "Update": a["Update"]}
                for a in ev["Task Info"].get("Accumulables", []) if "Update" in a
            ]},
            "Task Metrics": {
                "Executor CPU Time": m["Executor CPU Time"],
                "JVM GC Time": m["JVM GC Time"],
                "Disk Bytes Spilled": m["Disk Bytes Spilled"],
                "Input Metrics": {"Bytes Read": m["Input Metrics"]["Bytes Read"]},
                "Shuffle Read Metrics": {
                    "Remote Bytes Read": m["Shuffle Read Metrics"]["Remote Bytes Read"],
                    "Local Bytes Read": m["Shuffle Read Metrics"]["Local Bytes Read"],
                },
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                },
            },
        }
    if kind in PLAN_EVENTS:
        return {"Event": kind, "executionId": ev["executionId"], "sparkPlanInfo": _plan(ev["sparkPlanInfo"])}
    if kind.endswith("SparkListenerDriverAccumUpdates"):
        return {"Event": kind, "executionId": ev["executionId"], "accumUpdates": ev["accumUpdates"]}
    return None


def main() -> int:
    from keycloak_event_stream_spark.session import get_spark

    work = tempfile.mkdtemp()
    try:
        logs = os.path.join(work, "log")
        os.makedirs(logs)
        spark = get_spark("record-eventlog", cpus=2, extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        data = os.path.join(work, "t")
        spark.range(0, 1000, 1, 2).selectExpr("id", "id % 7 AS k").write.parquet(data)
        sc = spark.sparkContext
        sc.setJobGroup("scan", "filtered scan")
        spark.read.parquet(data).filter("k = 3").collect()
        sc.setJobGroup("shuffle", "group by")
        spark.read.parquet(data).groupBy("k").count().collect()
        spark.stop()
        (name,) = os.listdir(logs)
        with open(os.path.join(logs, name), encoding="utf-8") as src, \
                open(FIXTURE, "w", encoding="utf-8") as dst:
            for line in src:
                slim = _slim(json.loads(line))
                if slim is not None:
                    dst.write(json.dumps(slim) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
