"""Spans around the benchmark's calls into the package, and the Spark event
log parser that files Spark's own task and SQL metrics under them.

A span records name, start, the moment the public call returned its lazy
DataFrame (``driver``), end and its parent. In a traced run each layer span
also sets a Spark job group, so every job, stage and task it caused can be
found again in the event log.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

MB = 1 << 20

#: columns every timed layer call reports (see README.md)
LAYER_COLUMNS = (
    "call_ms", "driver_ms", "jobs", "task_cpu_ms", "python_ms",
    "arrow_out_mb", "arrow_in_mb", "shuffle_write_mb", "spill_mb", "gc_ms",
)

_SQL_SUMS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "arrow_out_mb",
    "data returned from Python workers": "arrow_in_mb",
    "number of files read": "files_read",
    "size of files read": "bytes_read_mb",
}


class Span:
    __slots__ = ("id", "layer", "call", "parent", "phase", "group",
                 "start", "driver", "end", "attrs")

    def __init__(self, sid, layer, call, parent, phase):
        self.id, self.layer, self.call = sid, layer, call
        self.parent, self.phase = parent, phase
        self.group = None
        self.start = time.perf_counter()
        self.driver = None
        self.end = None
        self.attrs: dict = {}

    def returned(self) -> None:
        """Mark the moment the public call handed back its lazy result."""
        self.driver = time.perf_counter()

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3

    @property
    def driver_ms(self) -> float:
        return ((self.driver or self.end) - self.start) * 1e3

    def as_dict(self) -> dict:
        return {"id": self.id, "name": f"{self.layer}.{self.call}",
                "parent": self.parent, "phase": self.phase, "group": self.group,
                "start": self.start, "driver": self.driver, "end": self.end,
                **self.attrs}


class Recorder:
    """In-memory span list. ``tag_jobs`` (traced runs only) names a Spark
    job group after each layer call."""

    def __init__(self, sc, tag_jobs: bool):
        self.sc = sc
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []
        self.phase = "setup"
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, call: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), layer, call, parent, self.phase)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.tag_jobs:
            sp.group = f"{sp.id}:{layer}.{call}"
            self.sc.setJobGroup(sp.group, f"{layer} {call}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.tag_jobs:
                outer = next((s for s in reversed(self._stack) if s.group), None)
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer.group, f"{outer.layer} {outer.call}")

    def calls(self, phase: str = "timed", layer: str | None = None,
              call: str | None = None) -> list[Span]:
        return [s for s in self.spans
                if s.phase == phase and s.parent is not None
                and (layer is None or s.layer == layer)
                and (call is None or s.call == call)]


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _scaled(value: float, name: str, metric_type: str) -> float:
    col = _SQL_SUMS[name]
    if col.endswith("_mb"):
        return value / MB
    if metric_type == "nsTiming":
        return value / 1e6
    return value


def parse_event_log(path: str) -> dict[str, Counter]:
    """{job group: Counter of summed metrics} from an uncompressed,
    non-rolling Spark event log."""
    per: dict[str, Counter] = defaultdict(Counter)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_meta: dict[int, tuple[str, str]] = {}
    driver_updates: list[tuple[int, int, int]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if not g:
                    continue
                per[g]["jobs"] += 1
                for s in e.get("Stage IDs", []):
                    stage_group.setdefault(s, g)
                x = props.get("spark.sql.execution.id")
                if x is not None:
                    exec_group.setdefault(int(x), g)
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(e.get("sparkPlanInfo") or {}, acc_meta)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e.get("accumUpdates", []):
                    driver_updates.append((e["executionId"], acc_id, value))
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get(e.get("Stage ID"))
                if g is None:
                    continue
                c = per[g]
                tm = e.get("Task Metrics") or {}
                c["task_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                c["task_run_ms"] += tm.get("Executor Run Time", 0)
                c["gc_ms"] += tm.get("JVM GC Time", 0)
                c["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                c["shuffle_write_mb"] += (
                    (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB)
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    meta = acc_meta.get(a.get("ID"))
                    name = meta[0] if meta else a.get("Name")
                    if name in _SQL_SUMS and a.get("Update") is not None:
                        c[_SQL_SUMS[name]] += _scaled(
                            float(a["Update"]), name, meta[1] if meta else "")
    for exec_id, acc_id, value in driver_updates:
        g = exec_group.get(exec_id)
        meta = acc_meta.get(acc_id)
        if g is not None and meta and meta[0] in _SQL_SUMS:
            per[g][_SQL_SUMS[meta[0]]] += _scaled(float(value), meta[0], meta[1])
    return per
