"""Spans around the benchmark's calls into the engine, and the offline
parse of Spark's event log that attributes jobs, stages and tasks to them.

A span is kept in memory (name, layer, start, end, parent) and written out
when the run ends. While a span is open, the Spark job group of the calling
thread is the span's name, so every job it starts carries that name in the
event log's ``SparkListenerJobStart`` properties. ``EventLog`` joins tasks
to stages, stages to jobs and jobs to groups, and sums task metrics and the
SQL metrics of plan nodes per group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PROP = "spark.jobGroup.id"
PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")


class Tracer:
    """In-memory span recorder; each open span is the job group of the
    calling thread on the SparkContext ``sc``."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "layer": layer, "parent": parent["name"] if parent else None}
        self._stack.append(rec)
        self.sc.setLocalProperty(GROUP_PROP, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, parent["name"] if parent else None)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


class EventLog:
    """Per-group sums over one application's uncompressed event log."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        self.path = files[-1]
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.jobs: dict[str, int] = defaultdict(int)
        self.stages: dict[str, list[dict]] = defaultdict(list)
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        # accumulator id -> (plan node name, metric name)
        self.acc_info: dict[int, tuple[str, str]] = {}
        # group -> accumulator id -> summed task updates
        self.acc: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        # driver-side SQL metrics (scan file counts and sizes) arrive before
        # the execution's first job names its group
        self._driver: dict[int, list] = defaultdict(list)
        with open(self.path) as f:
            for line in f:
                self._event(json.loads(line))
        for exec_id, updates in self._driver.items():
            group = self.exec_group.get(exec_id)
            if group is not None:
                for acc_id, value in updates:
                    self.acc[group][acc_id] += float(value)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get(GROUP_PROP)
            if group is None:
                return
            self.jobs[group] += 1
            for st in ev.get("Stage Infos", []):
                self.stage_group.setdefault(st["Stage ID"], group)
            if "spark.sql.execution.id" in props:
                self.exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = self.stage_group.get(info["Stage ID"])
            if group is not None:
                self.stages[group].append(info)
        elif kind == "SparkListenerTaskEnd":
            group = self.stage_group.get(ev["Stage ID"])
            if group is None:
                return
            self.tasks[group].append(ev)
            for a in ev["Task Info"].get("Accumulables", []):
                if isinstance(a.get("Update"), (int, float, str)) and a["ID"] in self.acc_info:
                    try:
                        self.acc[group][a["ID"]] += float(a["Update"])
                    except ValueError:
                        pass
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(ev["sparkPlanInfo"], self.acc_info)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            self._driver[int(ev["executionId"])].extend(ev["accumUpdates"])

    def sql_metric(self, groups, node_pred, metric: str, how=sum) -> float:
        vals = [
            v
            for g in groups
            for acc_id, v in self.acc.get(g, {}).items()
            if acc_id in self.acc_info
            and self.acc_info[acc_id][1] == metric
            and node_pred(self.acc_info[acc_id][0])
        ]
        return float(how(vals)) if vals else 0.0

    def engine(self, groups) -> dict[str, float]:
        """Exact counts and summed task metrics over ``groups``."""
        tasks = [t for g in groups for t in self.tasks.get(g, [])]
        stages = [s for g in groups for s in self.stages.get(g, [])]
        tm = [t.get("Task Metrics") or {} for t in tasks]
        out = {
            "jobs": float(sum(self.jobs.get(g, 0) for g in groups)),
            "stages": float(len(stages)),
            "tasks": float(len(tasks)),
            "run_s": sum(m.get("Executor Run Time", 0) for m in tm) / 1e3,
            "cpu_s": sum(m.get("Executor CPU Time", 0) for m in tm) / 1e9,
            "gc_s": sum(m.get("JVM GC Time", 0) for m in tm) / 1e3,
            "shuffle_read_bytes": float(
                sum(
                    m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                    + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
                    for m in tm
                )
            ),
            "shuffle_write_bytes": float(
                sum(m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for m in tm)
            ),
            "spill_bytes": float(
                sum(m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0) for m in tm)
            ),
        }
        out["task_skew"] = 0.0
        if stages:
            longest = max(
                stages,
                key=lambda s: (s.get("Completion Time") or 0) - (s.get("Submission Time") or 0),
            )
            durs = [
                t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
                for t in tasks
                if t["Stage ID"] == longest["Stage ID"]
            ]
            med = statistics.median(durs) if durs else 0
            out["task_skew"] = max(durs) / med if med > 0 else 1.0
        return out

    def python_io(self, groups) -> tuple[float, float]:
        """(rows out of, bytes to and from) the Python-worker plan nodes."""

        def is_py(node: str) -> bool:
            return any(m in node for m in PYTHON_NODE_MARKERS)

        rows = self.sql_metric(groups, is_py, "number of output rows")
        sent = self.sql_metric(groups, is_py, "data sent to Python workers")
        back = self.sql_metric(groups, is_py, "data returned from Python workers")
        return rows, sent + back

    def max_join_rows(self, groups) -> float:
        return self.sql_metric(groups, lambda n: "Join" in n, "number of output rows", how=max)

    def scan(self, groups) -> tuple[float, float]:
        """(files, bytes) the scans in ``groups`` selected to read."""
        is_scan = lambda n: "Scan" in n  # noqa: E731
        return (
            self.sql_metric(groups, is_scan, "number of files read"),
            self.sql_metric(groups, is_scan, "size of files read"),
        )
