"""Spans, Spark job groups and the event-log meter.

The benchmark measures every layer from outside: it wraps each call into
a layer's public functions in a span and, when tracing, tags the Spark
jobs the call submits with a job group named after the span.  Spans stay
in memory and are written once, when the run ends.  Stage, task, shuffle,
spill, CPU, GC and Python-worker figures come from Spark's JSON event log,
parsed in plain Python, grouped by job group.

A figure the event log does not carry is reported as ``"unknown"``,
never as 0 — a stage that was submitted but never completed, for
example, makes its group's stage and task counts unknown.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

UNKNOWN = "unknown"


class Tracer:
    """In-memory span recorder; sets a Spark job group around each span
    that names one when ``job_groups`` is on (traced runs only)."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # SparkContext, set once the session exists
        self.job_groups = False

    @contextmanager
    def span(self, name: str, group: str | None = None):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": group,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        tagged = group is not None and self.job_groups and self.sc is not None
        if tagged:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if tagged:  # back to the nearest enclosing span's group
                parent = next(
                    (self.spans[i]["group"] for i in reversed(self._stack) if self.spans[i]["group"]),
                    None,
                )
                if parent:
                    self.sc.setJobGroup(parent, parent)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str, since: float = 0.0) -> list[float]:
        """Durations of the finished spans called ``name`` that started
        at or after ``since``."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] and s["start"] >= since
        ]

    def self_time(self, idx: int) -> float:
        """A span's duration minus the time its direct children cover."""
        s = self.spans[idx]
        kids = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == idx and c["end"]
        )
        return (s["end"] - s["start"]) - kids

    def dump(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(i)) for i, s in enumerate(self.spans) if s["end"]]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(out, fh)


#: SQL metric carrying Python worker time (PythonSQLMetrics, milliseconds)
PYTHON_TIME_METRIC = "time to run Python workers"
_PY_NODE_MARKS = ("Python", "Pandas", "Arrow")
_TASK_KEYS = (
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "executor_cpu_s", "executor_run_s", "jvm_gc_s", "python_worker_s",
)


def _python_nodes(plan: dict, out: list[bool]) -> None:
    """Append, per Python/Arrow exec node in ``plan``, whether the node
    carries the Python worker time metric."""
    if any(m in plan.get("nodeName", "") for m in _PY_NODE_MARKS):
        out.append(any(m.get("name") == PYTHON_TIME_METRIC for m in plan.get("metrics", [])))
    for child in plan.get("children", []):
        _python_nodes(child, out)


class EventLog:
    """Per-job-group totals from one application's event log (a file, or
    a rolling-log directory of ``events_<n>_*`` files)."""

    def __init__(self, path: str) -> None:
        self.group_jobs: dict[str, int] = defaultdict(int)
        self.stage_group: dict[int, str] = {}
        self.submitted: set[int] = set()
        self.completed: dict[int, int] = {}
        self.stage_rdds: dict[int, list[str]] = {}
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        exec_group: dict[str, str] = {}
        py_nodes: dict[str, list[bool]] = defaultdict(list)  # execution id -> nodes
        for line in _event_lines(path):
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                self.group_jobs[group] += 1
                if props.get("spark.sql.execution.id") is not None:
                    exec_group.setdefault(str(props["spark.sql.execution.id"]), group)
                for sid in ev.get("Stage IDs", []):
                    self.stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                self.submitted.add(info["Stage ID"])
                self.stage_rdds[info["Stage ID"]] = [
                    r.get("Name", "") for r in info.get("RDD Info", [])
                ]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                self.completed[info["Stage ID"]] = info["Number of Tasks"]
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                nodes: list[bool] = []
                _python_nodes(ev.get("sparkPlanInfo") or {}, nodes)
                py_nodes[str(ev.get("executionId"))].extend(nodes)
            elif kind == "SparkListenerTaskEnd":
                t = self.totals[self.stage_group.get(ev.get("Stage ID"), "")]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PYTHON_TIME_METRIC:
                        t["python_worker_s"] += float(acc.get("Update", 0)) / 1e3
        # a group's Python time is known when every Python/Arrow node its
        # plans ran carries the metric (no such node: known to be 0)
        self.python_unknown: set[str] = {
            g for e, g in exec_group.items() if not all(py_nodes.get(e, []))
        }

    def summary(self, groups: list[str]) -> dict[str, object]:
        """Jobs, stages, tasks and task-metric totals over ``groups``."""
        gs = set(groups)
        stages = [s for s, g in self.stage_group.items() if g in gs and s in self.submitted]
        out: dict[str, object] = {"jobs": sum(self.group_jobs.get(g, 0) for g in gs)}
        if any(s not in self.completed for s in stages):
            out["stages"] = out["tasks"] = UNKNOWN
        else:
            out["stages"] = len(stages)
            out["tasks"] = sum(self.completed[s] for s in stages)
        for key in _TASK_KEYS:
            out[key] = sum(self.totals[g][key] for g in gs if g in self.totals)
        if gs & self.python_unknown:
            out["python_worker_s"] = UNKNOWN
        return out


    def scan_tasks(self, group: str) -> object:
        """Tasks of the first file-scan stage the group ran."""
        for sid in sorted(self.submitted):
            if self.stage_group.get(sid) == group and "FileScanRDD" in self.stage_rdds[sid]:
                return self.completed.get(sid, UNKNOWN)
        return 0


def _event_lines(path: str):
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
    for f in files:
        with open(f, encoding="utf-8") as fh:
            yield from fh


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote under ``log_dir``."""
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]
