"""Spark event-log reader for the traced run.

Reads the uncompressed JSON-lines log Spark writes with
``spark.eventLog.enabled`` and keeps what the per-layer metrics need:

- SQL executions (start, end, every plan node of every adaptive re-plan,
  with the accumulator ids of its SQL metrics);
- accumulator totals (task updates plus driver-side updates);
- stages with their tasks' durations, CPU, shuffle and spill, and the RDD
  scope names of the stage (``Window``, ``FlatMapCoGroupsInPandas``, …);
- job submission times.

The ``*_in`` queries pick executions, stages and jobs by start time, so
callers map them onto the benchmark's spans; the helpers below name which
plan nodes and stages belong to which layer:

=============================================  ============================
plan node / stage                              layer metrics
=============================================  ============================
``ArrowEvalPython``                            ``extract.*``
``Scan parquet`` of the pages corpus           ``fetch.corpus_rows_scanned``
final ``url_hash`` aggregate (frontier dedup)  ``seen.probe_rows``
stage running ``Window`` (host rank-and-cut)   ``sched.window_task_skew``
=============================================  ============================
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, tuple[int, str]]  # metric name -> (accumulator id, type)


@dataclass
class Execution:
    id: int
    start: float  # epoch seconds
    nodes: dict[tuple, Node] = field(default_factory=dict)


@dataclass
class Task:
    dur_ms: int
    cpu_ns: int
    shuffle_write: int
    shuffle_read: int
    spill: int


@dataclass
class Stage:
    id: int
    submitted: float = 0.0  # epoch seconds its job was submitted
    scopes: set[str] = field(default_factory=set)
    tasks: list[Task] = field(default_factory=list)


class EventLog:
    def __init__(self, path: str):
        self.executions: dict[int, Execution] = {}
        self.stages: dict[int, Stage] = {}
        self.acc: dict[int, float] = {}
        self.job_times: list[float] = []  # submission, epoch seconds
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    @classmethod
    def from_dir(cls, directory: str) -> "EventLog":
        files = [
            os.path.join(directory, f)
            for f in os.listdir(directory)
            if not f.startswith(".") and not f.endswith(".inprogress")
        ]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {directory}: {files}")
        return cls(files[0])

    # -------------------------------------------------------------- parse
    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart"):
            x = Execution(e["executionId"], e["time"] / 1000.0)
            self.executions[x.id] = x
            self._plan(x, e["sparkPlanInfo"])
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            x = self.executions.get(e["executionId"])
            if x is not None:
                self._plan(x, e["sparkPlanInfo"])
        elif ev.endswith("DriverAccumUpdates"):
            for acc_id, v in e["accumUpdates"]:
                self.acc[acc_id] = self.acc.get(acc_id, 0.0) + float(v)
        elif ev == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            self.job_times.append(t)
            for info in e["Stage Infos"]:
                st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.submitted = t
                for rdd in info.get("RDD Info", []):
                    scope = rdd.get("Scope")
                    if scope:
                        st.scopes.add(json.loads(scope).get("name", ""))
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    try:
                        self.acc[a["ID"]] = self.acc.get(a["ID"], 0.0) + float(a["Update"])
                    except (TypeError, ValueError):
                        pass
            if info.get("Failed") or info.get("Killed"):
                return
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st = self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            st.tasks.append(
                Task(
                    dur_ms=info["Finish Time"] - info["Launch Time"],
                    cpu_ns=m.get("Executor CPU Time", 0),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                )
            )

    def _plan(self, x: Execution, info: dict) -> None:
        metrics = {
            m["name"]: (m["accumulatorId"], m["metricType"])
            for m in info.get("metrics", [])
        }
        if metrics:
            key = tuple(sorted(a for a, _ in metrics.values()))
            x.nodes.setdefault(
                key, Node(info["nodeName"], info.get("simpleString", ""), metrics)
            )
        for child in info.get("children", []):
            self._plan(x, child)

    # -------------------------------------------------------------- query
    def value(self, node: Node, metric: str) -> float:
        """A node metric's total; timings in seconds, everything else raw."""
        if metric not in node.metrics:
            return 0.0
        acc_id, kind = node.metrics[metric]
        v = self.acc.get(acc_id, 0.0)
        if kind == "timing":
            return v / 1e3
        if kind == "nsTiming":
            return v / 1e9
        return v

    def executions_in(self, start: float, end: float) -> list[Execution]:
        return [x for x in self.executions.values() if start <= x.start < end]

    def stages_in(self, start: float, end: float) -> list[Stage]:
        return [s for s in self.stages.values() if start <= s.submitted < end]

    def jobs_in(self, start: float, end: float) -> int:
        return sum(1 for t in self.job_times if start <= t < end)


# ------------------------------------------------------------ node classes
def extract_nodes(x: Execution) -> list[Node]:
    return [n for n in x.nodes.values() if n.name == "ArrowEvalPython"]


def pages_scan_nodes(x: Execution, pages_dir: str) -> list[Node]:
    return [
        n
        for n in x.nodes.values()
        if n.name.startswith("Scan parquet") and pages_dir in n.desc
    ]


def frontier_dedup_nodes(x: Execution) -> list[Node]:
    """The final (not partial) per-url_hash aggregate of the frontier dedup:
    its output rows are the candidates the seen-set probes next."""
    return [
        n
        for n in x.nodes.values()
        if n.name in ("SortAggregate", "HashAggregate", "ObjectHashAggregate")
        and "key=[url_hash" in n.desc
        and "min(" in n.desc
        and "partial_" not in n.desc
    ]


def is_host_window_stage(st: Stage) -> bool:
    return "Window" in st.scopes
