"""Spans around the benchmark's calls into each engine layer, and the
Spark counters behind them.

A span records (name, start, end, parent, op). With tracing on, each
span also runs its Spark jobs under a job group of its own; the job
ids come from the status tracker when the span closes, and the task
counters (run time, GC, shuffle write, spill, failures) from Spark's
event log, read after the session stops. With tracing off every span
is a no-op, so the traced and untraced runs execute the same code.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "tasks_failed", "busy_s", "gc_s", "shuffle_write_mb", "spill_mb")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # wall time spent in span bookkeeping
        self.op = None  # the operation (pass, request or set-up cycle) running now
        self._sc = None
        self._stack: list[dict] = []
        self._next_id = 0

    def bind(self, spark) -> None:
        """Attach to a (new) SparkContext; spans opened before this
        run no jobs and get no job group. Pass None before stopping a
        session."""
        self._sc = spark.sparkContext if self.enabled and spark is not None else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        self._next_id += 1
        rec = {
            "id": f"perfbench-span-{self._next_id}",
            "name": name,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": None,
        }
        if self._sc is not None:
            rec["group"] = rec["id"]
            self._sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if rec["group"] is not None:
                rec["jobs"] = list(self._sc.statusTracker().getJobIdsForGroup(rec["group"]))
                outer = self._stack[-1]["group"] if self._stack else None
                if outer is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                else:
                    self._sc.setJobGroup(outer, self._stack[-1]["name"])
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]


def task_counters(event_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: task count, failed tasks, summed task run time,
    GC time, shuffle bytes written and bytes spilled, from every event
    log in `event_dir` (one per SparkContext)."""
    out: dict[str, dict[str, float]] = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    c = out.setdefault(group, dict.fromkeys(COUNTERS[1:], 0.0))
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    c["tasks_failed"] += bool(info.get("Failed") or info.get("Killed"))
                    c["busy_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["shuffle_write_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    c["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return out


def span_totals(spans: list[dict], groups: dict[str, dict[str, float]]) -> dict:
    """Per (span name, op): summed wall time and summed counters. A
    span's counters include those of the spans nested inside it."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def counters(s):
        c = dict.fromkeys(COUNTERS, 0.0)
        c["jobs"] = len(s.get("jobs", ()))
        for k, v in groups.get(s["group"], {}).items():
            c[k] += v
        for child in children.get(s["id"], ()):
            for k, v in counters(child).items():
                c[k] += v
        return c

    totals: dict[tuple[str, object], dict[str, float]] = {}
    for s in spans:
        t = totals.setdefault((s["name"], s["op"]), dict.fromkeys(("wall_s", *COUNTERS), 0.0))
        t["wall_s"] += s["end"] - s["start"]
        for k, v in counters(s).items():
            t[k] += v
    return totals
