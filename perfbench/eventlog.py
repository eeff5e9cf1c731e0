"""Per-job-group counters from an uncompressed Spark event log.

The benchmark runs each unit of work under its own job group: a
streaming query's batches run under the query's ``runId``, and the
benchmark calls ``setJobGroup`` around every console and analytics
query. This module folds the log's listener events into one
:class:`Counters` per group. Stages map to a group through the
properties of ``SparkListenerStageSubmitted``, tasks through their
stage, and SQL executions through the properties of
``SparkListenerJobStart``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, fields

GROUP = "spark.jobGroup.id"
EXECUTION = "spark.sql.execution.id"


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    files_read: int = 0
    scan_rows: int = 0

    def add(self, other: "Counters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _scan_metric_ids(plan: dict, out: dict[str, set[int]]) -> None:
    """Accumulator ids of the file-scan nodes' row and file counts."""
    if plan.get("nodeName", "").startswith("Scan "):
        for m in plan.get("metrics", []):
            if m["name"] in ("number of output rows", "number of files read"):
                out[m["name"]].add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_metric_ids(child, out)


def parse(path: str) -> dict[str, Counters]:
    """Counters keyed by job group; work outside any group is dropped."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    scan_ids: dict[str, set[int]] = defaultdict(set)
    driver_updates: list[tuple[int, int, int]] = []  # (execution, acc id, value)
    out: dict[str, Counters] = defaultdict(Counters)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get(GROUP)
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get(GROUP)
                if group is None:
                    continue
                out[group].jobs += 1
                if props.get(EXECUTION) is not None:
                    exec_group[int(props[EXECUTION])] = group
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not None:
                    out[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if group is None or metrics is None:
                    continue
                c = out[group]
                c.tasks += 1
                c.cpu_s += metrics["Executor CPU Time"] / 1e9
                c.gc_s += metrics["JVM GC Time"] / 1e3
                c.input_bytes += metrics["Input Metrics"]["Bytes Read"]
                read = metrics["Shuffle Read Metrics"]
                c.shuffle_read_bytes += read["Remote Bytes Read"] + read["Local Bytes Read"]
                c.shuffle_write_bytes += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                c.spill_bytes += metrics["Disk Bytes Spilled"]
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc["ID"] in scan_ids["number of output rows"]:
                        c.scan_rows += int(acc["Update"])
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _scan_metric_ids(ev["sparkPlanInfo"], scan_ids)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    driver_updates.append((ev["executionId"], acc_id, value))
    for execution, acc_id, value in driver_updates:
        group = exec_group.get(execution)
        if group is not None and acc_id in scan_ids["number of files read"]:
            out[group].files_read += int(value)
    return dict(out)


def total(counters: dict[str, Counters], groups) -> Counters:
    """Sum of the counters of ``groups`` (absent groups count zero)."""
    acc = Counters()
    for g in groups:
        if g in counters:
            acc.add(counters[g])
    return acc
