"""Per-layer metrics of one traced ``run_pipeline`` call: spans (``spans.py``)
joined with the event log (``eventlog.py``) by job group."""

from __future__ import annotations

import json
import os
from collections import defaultdict

import eventlog


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def per_layer(data: dict, log_path: str, spans_out: str) -> dict:
    spans = data["spans"]
    ev = eventlog.read(log_path)
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)

    def own(s):
        return ev.groups.get(s.group, eventlog.GroupMetrics())

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids[x.sid])
        return out

    # no wrapped call reaches another call of its own name, so spans of one
    # name never nest and their sums count nothing twice
    def incl(name: str, field: str) -> float:
        """``field`` summed over every span called ``name`` and its
        descendants."""
        return sum(
            getattr(own(x), field)
            for s in spans if s.name == name
            for x in subtree(s)
        )

    def secs(name: str) -> float:
        return sum(s.dur for s in spans if s.name == name)

    def calls(name: str) -> int:
        return sum(1 for s in spans if s.name == name)

    rp = next(s for s in spans if s.name == "plans.run_pipeline")
    tree = subtree(rp)
    direct = [(k.start, k.end) for k in kids[rp.sid]]
    covered = _union(direct, rp.start, rp.end)
    task_iv = [
        (a / 1e3, b / 1e3) for x in tree for a, b in own(x).task_intervals
    ]
    busy = _union(task_iv, rp.start, rp.end)

    py = defaultdict(int)
    for x in tree:
        for k, v in own(x).python.items():
            py[k] += v
    units = ev.python_units

    written = incl("sources.warehouse.merge_upsert", "output_bytes") + incl(
        "sources.warehouse.overwrite", "output_bytes"
    )
    pages_read = incl("sources.pages.fingerprint", "input_records") + incl(
        "plans.extract_write", "input_records"
    )
    m = {
        "plans.run_pipeline.s": (rp.dur, "s"),
        "plans.run_pipeline.jobs": (sum(own(x).jobs for x in tree), "count"),
        "plans.run_pipeline.task_s": (sum(own(x).run_ms for x in tree) / 1e3, "s"),
        "plans.run_pipeline.driver_only_s": (rp.dur - busy, "s"),
        "plans.run_pipeline.self_s": (rp.dur - covered, "s"),
        "plans.run_pipeline.resume_s": (data["resume_s"], "s"),
        "plans.extract_stage.calls": (calls("plans.extract_stage"), "count"),
        "plans.extract_stage.plan_s": (secs("plans.extract_stage"), "s"),
        "plans.extract_write.s": (secs("plans.extract_write"), "s"),
        "plans.extract_write.jobs": (incl("plans.extract_write", "jobs"), "count"),
        "plans.extract_write.task_s": (incl("plans.extract_write", "run_ms") / 1e3, "s"),
        "plans.extract_write.records_out": (
            incl("plans.extract_write", "output_records"), "count"),
        "plans.build_graph.s": (secs("plans.build_graph"), "s"),
        "plans.build_graph.jobs": (incl("plans.build_graph", "jobs"), "count"),
        "plans.build_graph.shuffle_bytes": (
            incl("plans.build_graph", "shuffle_write_bytes"), "bytes"),
        "functions.extract_text.rows": (py["rows"], "count"),
        "functions.extract_text.python_s": (
            eventlog.to_seconds(py["python"], units.get("python", "")), "s"),
        "functions.extract_text.boot_s": (
            eventlog.to_seconds(py["boot"], units.get("boot", "")), "s"),
        "functions.extract_text.bytes_sent": (py["bytes_sent"], "bytes"),
        "operators.canon.canonical_ids.s": (secs("operators.canon.canonical_ids"), "s"),
        "operators.canon.canonical_ids.jobs": (
            incl("operators.canon.canonical_ids", "jobs"), "count"),
        "sources.warehouse.merge_upsert.s": (secs("sources.warehouse.merge_upsert"), "s"),
        "sources.warehouse.merge_upsert.jobs": (
            incl("sources.warehouse.merge_upsert", "jobs"), "count"),
        "sources.warehouse.merge_upsert.bytes_written": (
            incl("sources.warehouse.merge_upsert", "output_bytes"), "bytes"),
        "sources.warehouse.overwrite.s": (secs("sources.warehouse.overwrite"), "s"),
        "sources.warehouse.overwrite.bytes_written": (
            incl("sources.warehouse.overwrite", "output_bytes"), "bytes"),
        "sources.warehouse.write_amp": (written / data["live_bytes"], "ratio"),
        "sources.checkpoint.mark.calls": (calls("sources.checkpoint.mark"), "count"),
        "sources.checkpoint.mark.s": (secs("sources.checkpoint.mark"), "s"),
        "sources.checkpoint.completed_inputs.s": (
            secs("sources.checkpoint.completed_inputs"), "s"),
        "sources.pages.scans": (pages_read / data["pages"], "ratio"),
        "session.start_s": (data["start_s"], "s"),
        "session.gc_s": (sum(own(x).gc_ms for x in tree) / 1e3, "s"),
        "session.peak_rss_mb": (data["peak_rss_mb"], "MB"),
        "trace.overhead_s": (data["overhead_s"], "s"),
        "trace.coverage": (covered / rp.dur, "ratio"),
    }

    os.makedirs(os.path.dirname(spans_out), exist_ok=True)
    with open(spans_out, "w") as f:
        json.dump(
            [
                {
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "group": s.group,
                    "jobs": own(s).jobs, "tasks": own(s).tasks,
                    "task_s": own(s).run_ms / 1e3,
                }
                for s in spans
            ],
            f,
            indent=1,
        )
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
