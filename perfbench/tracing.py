"""Spans recorded from the benchmark's side of each layer boundary, and the
Spark event-log summary of the jobs those spans ran.

A span is (id, name, parent, start, end), kept in memory and
written once when the run ends.  Every Spark job started inside a span
carries the span's id in the ``perfbench.span`` local property, so the
event log attributes each job, stage and task to the layer that ran it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

__all__ = ["Tracer", "spark_summary", "SPAN_PROPERTY"]

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            sc.setLocalProperty(SPAN_PROPERTY, None if parent is None else str(parent))
            sc.setJobDescription(None if parent is None else self.spans[parent]["name"])

    def wall(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name:
                return rec["end"] - rec["start"]
        raise KeyError(name)

    def descendants(self, sid: int) -> set[int]:
        out = {sid}
        for rec in self.spans:
            if rec["parent"] in out:
                out.add(rec["id"])
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


def _events(log_dir: str, app_id: str):
    """The finished event log of a stopped session, one JSON event a line."""
    with open(os.path.join(log_dir, app_id)) as fh:
        for line in fh:
            yield json.loads(line)


def spark_summary(log_dir: str, app_id: str, span_ids: set[int]) -> tuple[dict, dict]:
    """Totals over the jobs whose span is in ``span_ids``, plus a per-span
    breakdown.  Task skew is the worst max/median task run time over
    stages of at least four tasks."""
    wanted = {str(s) for s in span_ids}
    stage_span: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[float]] = {}
    per_span: dict[str, dict] = {}
    tot = {"jobs": 0, "tasks": 0, "shuffle_write_b": 0, "gc_ms": 0, "deser_ms": 0,
           "py_sent_b": 0, "py_run": 0}
    for ev in _events(log_dir, app_id):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            if sid in wanted:
                tot["jobs"] += 1
                jobs[sid] = jobs.get(sid, 0) + 1
                for st in ev.get("Stage IDs", []):
                    stage_span[st] = sid
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            if sid is None:
                continue
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            shuffle_b = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            acc = {}
            for a in info.get("Accumulables", []):
                acc[a.get("Name")] = acc.get(a.get("Name"), 0) + int(a.get("Update", 0))
            py_b = acc.get("data sent to Python workers", 0)
            row = per_span.setdefault(sid, {"tasks": 0, "shuffle_write_b": 0, "py_sent_b": 0})
            row["tasks"] += 1
            row["shuffle_write_b"] += shuffle_b
            row["py_sent_b"] += py_b
            tot["tasks"] += 1
            tot["shuffle_write_b"] += shuffle_b
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["deser_ms"] += m.get("Executor Deserialize Time", 0)
            tot["py_sent_b"] += py_b
            tot["py_run"] += acc.get("time to run Python workers", 0)
            tasks.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    skew = 1.0
    for runs in tasks.values():
        med = statistics.median(runs)
        if len(runs) >= 4 and med > 0:
            skew = max(skew, max(runs) / med)
    for sid, n in jobs.items():
        per_span.setdefault(sid, {})["jobs"] = n
    metrics = {
        "spark.jobs": tot["jobs"],
        "spark.tasks": tot["tasks"],
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / 1e6,
        "spark.task_skew": skew,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.deser_s": tot["deser_ms"] / 1e3,
        "spark.py_mb_sent": tot["py_sent_b"] / 1e6,
        "spark.task_s": sum(sum(runs) for runs in tasks.values()) / 1e3,
        "spark.py_run_s": tot["py_run"] / 1e3,
    }
    return metrics, per_span
