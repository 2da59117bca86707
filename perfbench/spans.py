"""Spans recorded around the benchmark's calls into each layer, and the
event-log reader that maps stages, tasks and SQL plan-node metrics back to
them.

Every span runs under its own Spark job group (``span.<name>``); after the
session stops, the uncompressed event log is read with the standard
library and each job is attributed to the span whose group it carries.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from stats import self_time


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"span.{self.name}"


class Tracer:
    """Spans kept in memory; each one sets its job group for the calls it
    wraps and restores the parent's on exit."""

    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.span_id if parent else None, self.trace_id, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.group if parent else None)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def self_s(self, name: str) -> float:
        sp = self.get(name)
        kids = [(c.start, c.end) for c in self.spans if c.parent == sp.span_id]
        return self_time(sp.start, sp.end, kids)

    def to_json(self) -> list[dict]:
        return [vars(s) | {"group": s.group} for s in self.spans]


@dataclass
class _Task:
    run_ms: int
    shuffle_w: int
    spill: int
    accums: dict[int, int]


@dataclass
class _Node:
    exec_id: int
    name: str
    desc: str
    metric: str


@dataclass
class EventLog:
    job_group: dict[int, str] = field(default_factory=dict)
    job_exec: dict[int, int] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    tasks: dict[int, list[_Task]] = field(default_factory=dict)
    nodes: dict[int, _Node] = field(default_factory=dict)
    driver_accums: dict[int, int] = field(default_factory=dict)
    exec_plan: dict[int, str] = field(default_factory=dict)

    @classmethod
    def load(cls, path: Path) -> EventLog:
        log = cls()
        with open(path) as fh:
            for line in fh:
                log._event(json.loads(line))
        return log

    def _plan(self, exec_id: int, info: dict) -> None:
        """Every plan version (the initial one and each adaptive update)
        is kept: a node's metrics keep their accumulator ids across
        versions, and replaced nodes simply receive no updates."""
        for m in info.get("metrics", []):
            self.nodes[m["accumulatorId"]] = _Node(exec_id, info["nodeName"], info["simpleString"], m["name"])
        for k in info.get("children", []):
            self._plan(exec_id, k)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.job_group[jid] = props.get("spark.jobGroup.id", "")
            if "spark.sql.execution.id" in props:
                self.job_exec[jid] = int(props["spark.sql.execution.id"])
            self.job_stages[jid] = list(ev.get("Stage IDs", []))
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            accums = {}
            for a in info.get("Accumulables", []):
                upd = a.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    accums[a["ID"]] = int(upd)
            sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            self.tasks.setdefault(ev["Stage ID"], []).append(
                _Task(m.get("Executor Run Time", 0), sw, m.get("Disk Bytes Spilled", 0), accums))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
            if "physicalPlanDescription" in ev:
                self.exec_plan[ev["executionId"]] = ev["physicalPlanDescription"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in ev["accumUpdates"]:
                self.driver_accums[aid] = self.driver_accums.get(aid, 0) + int(val)

    # -- per span ----------------------------------------------------------

    def jobs(self, group: str) -> list[int]:
        return [j for j, g in self.job_group.items() if g == group]

    def stages(self, group: str) -> set[int]:
        return {s for j in self.jobs(group) for s in self.job_stages[j]}

    def group_tasks(self, group: str) -> list[_Task]:
        return [t for s in self.stages(group) for t in self.tasks.get(s, [])]

    def summary(self, group: str) -> dict:
        tasks = self.group_tasks(group)
        return {
            "busy_s": sum(t.run_ms for t in tasks) / 1000.0,
            "shuffle_mb": sum(t.shuffle_w for t in tasks) / 2**20,
            "spill_mb": sum(t.spill for t in tasks) / 2**20,
            "spark_jobs": len(self.jobs(group)),
        }

    def exec_ids(self, group: str) -> set[int]:
        return {self.job_exec[j] for j in self.jobs(group) if j in self.job_exec}

    def node_metric(self, group: str, pred, metric: str = "number of output rows", agg=sum) -> int:
        """``agg`` over the matching plan nodes of each node's metric total
        (task updates plus driver-side updates)."""
        ids = self._node_ids(group, pred, metric)
        totals: dict[int, int] = dict.fromkeys(ids, 0)
        for t in self.group_tasks(group):
            for aid, v in t.accums.items():
                if aid in totals:
                    totals[aid] += v
        for aid in ids:
            totals[aid] += self.driver_accums.get(aid, 0)
        return agg(totals.values()) if totals else 0

    def _node_ids(self, group: str, pred, metric: str) -> set[int]:
        execs = self.exec_ids(group)
        return {aid for aid, n in self.nodes.items() if n.exec_id in execs and n.metric == metric and pred(n)}

    def task_max_over_median(self, group: str, pred) -> float:
        """max / median task run time of the stages that ran the matching
        nodes (found by which stages updated those nodes' row counters)."""
        ids = self._node_ids(group, pred, "number of output rows")
        runs = [t.run_ms for s in self.stages(group) for t in self.tasks.get(s, [])
                if any(a in ids for a in t.accums)]
        if not runs:
            return 0.0
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0

    def busy_where(self, group: str, plan_pred) -> float:
        """Executor seconds of the group's jobs whose SQL plan text matches."""
        stages = {s for j in self.jobs(group) if plan_pred(self.exec_plan.get(self.job_exec.get(j, -1), ""))
                  for s in self.job_stages[j]}
        return sum(t.run_ms for s in stages for t in self.tasks.get(s, [])) / 1000.0


def find_event_log(directory: Path) -> Path:
    logs = [p for p in directory.iterdir() if p.is_file() and not p.name.endswith(".inprogress")]
    if not logs:
        raise FileNotFoundError(f"no finished event log in {directory}")
    return max(logs, key=lambda p: p.stat().st_mtime)
