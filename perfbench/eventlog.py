"""Spark event-log reader (stdlib ``json`` only).

Reads one uncompressed, non-rolling event log (one JSON object per line) and
returns, per job group, the task and SQL metrics the benchmark reports:

* ``TaskEnd`` task metrics: executor run time, GC time, shuffle bytes
  written, output bytes/records and input records; and each task's
  launch/finish times, so a caller can compute when no task was running.
* SQL metrics of the ArrowEvalPython node (the batch Python UDF boundary),
  summed from the per-task accumulator updates. The accumulator ids come from
  the ``sparkPlanInfo`` trees of ``SQLExecutionStart`` and
  ``SQLAdaptiveExecutionUpdate`` events.

A task belongs to the job group of the stage that ran it (the group is in the
``StageSubmitted`` properties, or failing that the ``JobStart`` properties of
the first job listing the stage).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
# the ArrowEvalPython nodes whose SQL metrics are collected: the HTML UDF
UDF_MARKER = "extract_text_udf"

# SQL metric name -> short key, for the ArrowEvalPython node
PYTHON_METRICS = {
    "number of output rows": "rows",
    "time to run Python workers": "python",
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    input_records: int = 0
    # (launch_ms, finish_ms) of every task
    task_intervals: list = field(default_factory=list)
    # PYTHON_METRICS short key -> summed update (raw units, see python_units)
    python: dict = field(default_factory=lambda: defaultdict(int))


@dataclass
class EventLog:
    groups: dict  # group id (or None) -> GroupMetrics
    python_units: dict  # PYTHON_METRICS short key -> metricType


def _walk_plan(node: dict, acc: dict, units: dict) -> None:
    if node.get("nodeName") == "ArrowEvalPython" and UDF_MARKER in node.get(
        "simpleString", ""
    ):
        for m in node.get("metrics", []):
            key = PYTHON_METRICS.get(m.get("name"))
            if key is not None:
                acc[m["accumulatorId"]] = key
                units[key] = m.get("metricType", "")
    for child in node.get("children", []):
        _walk_plan(child, acc, units)


def parse(lines) -> EventLog:
    """Parse event-log lines."""
    groups: dict = defaultdict(GroupMetrics)
    stage_group: dict = {}
    python_acc: dict = {}  # accumulator id -> PYTHON_METRICS short key
    units: dict = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(GROUP_KEY)
            groups[g].jobs += 1
            for s in e.get("Stage IDs", []):
                stage_group.setdefault(s, g)
        elif ev == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            if GROUP_KEY in props:
                stage_group[e["Stage Info"]["Stage ID"]] = props[GROUP_KEY]
        elif ev.endswith("SQLExecutionStart") or ev.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            plan = e.get("sparkPlanInfo")
            if plan:
                _walk_plan(plan, python_acc, units)
        elif ev == "SparkListenerTaskEnd":
            gm = groups[stage_group.get(e.get("Stage ID"))]
            info = e.get("Task Info") or {}
            tm = e.get("Task Metrics") or {}
            gm.tasks += 1
            gm.run_ms += tm.get("Executor Run Time", 0)
            gm.gc_ms += tm.get("JVM GC Time", 0)
            gm.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out = tm.get("Output Metrics") or {}
            gm.output_bytes += out.get("Bytes Written", 0)
            gm.output_records += out.get("Records Written", 0)
            # input records, not bytes: for local parquet files Spark 4.1
            # reports a small fraction of the bytes a full scan reads
            gm.input_records += (tm.get("Input Metrics") or {}).get("Records Read", 0)
            if "Launch Time" in info and "Finish Time" in info:
                gm.task_intervals.append((info["Launch Time"], info["Finish Time"]))
            for a in info.get("Accumulables", []):
                key = python_acc.get(a.get("ID"))
                if key is not None:
                    gm.python[key] += int(a.get("Update") or 0)
    return EventLog(groups=dict(groups), python_units=units)


def to_seconds(value: int, metric_type: str) -> float:
    """A SQL timing metric in seconds (``timing`` is ms, ``nsTiming`` ns)."""
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)
