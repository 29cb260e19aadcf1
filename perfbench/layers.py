"""Per-layer report of a traced run.

Two views of the same event-log sums:
  * the module table for the detail line: ``<layer>.<column>`` per module
    the workload called (build, probe, pairs, store, mutate, raster, dedup,
    ann, codec), each the median over the timed operations that called it;
  * the per-layer metrics of the result line: the execution layers every
    workload passes through (driver, JVM tasks, Python workers, Arrow
    transfer, shuffle, scans), summed over the timed window and divided by
    the operations run, so both workloads file the same names.
"""

from __future__ import annotations

import glob
import os
import statistics
from collections import Counter, defaultdict

from perfbench.spans import LAYER_COLUMNS, parse_event_log

_UNITS = {"jobs": "count", "files_read": "count"}

#: result-line name -> (summed column, unit)
PER_LAYER = {
    "driver.plan_ms": ("driver_ms", "ms"),
    "spark.jobs": ("jobs", "count"),
    "jvm.task_cpu_ms": ("task_cpu_ms", "ms"),
    "jvm.gc_ms": ("gc_ms", "ms"),
    "python.worker_ms": ("python_ms", "ms"),
    "arrow.out_mb": ("arrow_out_mb", "MB"),
    "arrow.in_mb": ("arrow_in_mb", "MB"),
    "shuffle.write_mb": ("shuffle_write_mb", "MB"),
    "shuffle.spill_mb": ("spill_mb", "MB"),
    "scan.files": ("files_read", "count"),
    "scan.read_mb": ("bytes_read_mb", "MB"),
}


def _unit(col: str) -> str:
    if col in _UNITS:
        return _UNITS[col]
    return "MB" if col.endswith("_mb") else "ms"


def _event_log(work: str) -> str:
    logs = glob.glob(os.path.join(work, "events", "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    return logs[0]


def layer_report(r: dict, work: str, untraced: dict, e2e: dict) -> tuple[dict, dict]:
    rec = r["rec"]
    sums = parse_event_log(_event_log(work))
    ops = [s for s in rec.spans if s.phase == "timed" and s.parent is None]
    calls = [s for s in rec.spans if s.phase == "timed" and s.parent is not None]

    def row(s) -> Counter:
        c = Counter(sums.get(s.group, Counter()))
        c["call_ms"] = s.ms
        c["driver_ms"] = s.driver_ms
        return c

    # module table: one row per (operation, layer); load_index is filed on
    # its own as store.load_ms, so store.* describes the read path
    per_op: dict[str, dict[int, Counter]] = defaultdict(lambda: defaultdict(Counter))
    for s in calls:
        if s.call != "load_index":
            per_op[s.layer][s.parent].update(row(s))
    table = {}
    for layer, rows in sorted(per_op.items()):
        for col in LAYER_COLUMNS:
            table[f"{layer}.{col}"] = {
                "value": statistics.median(c[col] for c in rows.values()),
                "unit": _unit(col)}
        if layer == "store":
            for col in ("files_read", "bytes_read_mb"):
                table[f"store.{col}"] = {
                    "value": statistics.median(c[col] for c in rows.values()),
                    "unit": _unit(col)}
    table.update(r["extras"])

    total = Counter()
    for s in calls:
        total.update(row(s))
    n = len(ops)
    per_layer = {name: {"value": total[col] / n, "unit": unit}
                 for name, (col, unit) in PER_LAYER.items()}
    base = untraced["metrics"]["op_p50_ms"]["value"]
    per_layer["trace.overhead_pct"] = {
        "value": (e2e["op_p50_ms"]["value"] - base) / base * 100.0, "unit": "%"}
    return per_layer, table
