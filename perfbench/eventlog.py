"""Spark event-log parser: attributes jobs, stages, task metrics and SQL
plan-node metrics to the job group that was set when they ran.

Input is an uncompressed, unrolled event log (one JSON event per line).
Sources of each figure:

- jobs: ``SparkListenerJobStart`` (its ``spark.jobGroup.id`` property);
- stages and tasks: ``SparkListenerStageSubmitted`` properties give the
  stage's group; ``SparkListenerStageCompleted`` and
  ``SparkListenerTaskEnd`` are counted and summed under it;
- plan-node metrics: every ``SQLExecutionStart`` and
  ``SQLAdaptiveExecutionUpdate`` plan maps accumulator ids to
  (node name, metric name). Task-side values come from the
  task-end ``Accumulables`` updates, summed; driver-side values (files
  read, files written, commit times) come from ``DriverAccumUpdates``,
  where the last value per accumulator wins, as in Spark's own UI.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_NO_GROUP = ""


@dataclass
class GroupStats:
    """Everything attributed to one job group (or a merge of several)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_ms: int = 0
    exec_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    task_acc: dict[int, int] = field(default_factory=lambda: defaultdict(int))
    driver_acc: dict[int, int] = field(default_factory=dict)

    def merge(self, other: GroupStats) -> None:
        for name in (
            "jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ns", "gc_ms",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
            "spill_bytes", "input_bytes",
        ):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        for acc, v in other.task_acc.items():
            self.task_acc[acc] += v
        self.driver_acc.update(other.driver_acc)


@dataclass(frozen=True)
class Metric:
    node: str
    name: str


class EventLog:
    def __init__(self) -> None:
        self.groups: dict[str, GroupStats] = defaultdict(GroupStats)
        self.metrics: dict[int, Metric] = {}
        self._stage_group: dict[int, str] = {}
        self._exec_group: dict[int, str] = {}

    @classmethod
    def read(cls, path: str) -> EventLog:
        with open(path) as fh:
            return cls.parse(fh)

    @classmethod
    def parse(cls, lines: Iterable[str]) -> EventLog:
        log = cls()
        for line in lines:
            if line.strip():
                log._event(json.loads(line))
        return log

    def _event(self, e: dict) -> None:
        kind = e["Event"].removeprefix(_SQL)
        if kind == "SparkListenerJobStart":
            self.groups[_group(e.get("Properties"))].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            self._stage_group[e["Stage Info"]["Stage ID"]] = _group(e.get("Properties"))
        elif kind == "SparkListenerStageCompleted":
            self._stage(e["Stage Info"]["Stage ID"]).stages += 1
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind == "SparkListenerSQLExecutionStart":
            self._exec_group[e["executionId"]] = e.get("jobGroupId") or _NO_GROUP
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            g = self.groups[self._exec_group.get(e["executionId"], _NO_GROUP)]
            for acc, value in e["accumUpdates"]:
                g.driver_acc[acc] = value

    def _stage(self, stage_id: int) -> GroupStats:
        return self.groups[self._stage_group.get(stage_id, _NO_GROUP)]

    def _task(self, e: dict) -> None:
        g = self._stage(e["Stage ID"])
        g.tasks += 1
        m = e.get("Task Metrics") or {}
        g.exec_run_ms += m.get("Executor Run Time", 0)
        g.exec_cpu_ns += m.get("Executor CPU Time", 0)
        g.gc_ms += m.get("JVM GC Time", 0)
        g.spill_bytes += m.get("Disk Bytes Spilled", 0)
        g.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        read = m.get("Shuffle Read Metrics", {})
        g.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
        g.fetch_wait_ms += read.get("Fetch Wait Time", 0)
        # Plan-node metrics ride along with the task metrics, their updates
        # as decimal strings; ids are matched to plan nodes at read time.
        for acc in e["Task Info"].get("Accumulables", ()):
            if "Update" in acc and not acc.get("Name", "").startswith("internal.metrics."):
                g.task_acc[acc["ID"]] += int(acc["Update"])

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", ()):
            self.metrics[m["accumulatorId"]] = Metric(node["nodeName"].strip(), m["name"])
        for child in node.get("children", ()):
            self._plan(child)

    def select(self, group: str) -> GroupStats:
        """Merged stats of ``group`` and of its sub-groups ``group/...``."""
        out = GroupStats()
        for name, g in self.groups.items():
            if name == group or name.startswith(group + "/"):
                out.merge(g)
        return out

    def sql_total(self, g: GroupStats, names: tuple[str, ...], node_prefix: str = "") -> int:
        """Sum of the plan-node metrics called one of ``names`` (on nodes
        whose name starts with ``node_prefix``), in Spark's raw unit: bytes,
        rows, or milliseconds for ``timing`` metrics."""
        total = 0
        for acc, v in list(g.task_acc.items()) + list(g.driver_acc.items()):
            m = self.metrics.get(acc)
            if m and m.name in names and m.node.startswith(node_prefix):
                total += v
        return total

    def nodes_run(self, g: GroupStats, node_prefix: str, name: str) -> int:
        """How many plan-node instances whose name starts with
        ``node_prefix`` reported metric ``name``: the nodes that ran."""
        return sum(
            1
            for acc in set(g.task_acc) | set(g.driver_acc)
            if (m := self.metrics.get(acc)) and m.name == name and m.node.startswith(node_prefix)
        )


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or _NO_GROUP
