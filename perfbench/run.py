#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {bulk,serve} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it ({"detail": ...}) holds the workload's own metrics, the sizes,
the resolved strategies, the calibration stamps and, when traced, the
per-module layer table. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SHUFFLE_PARTITIONS = 8
SETUP_REPS = 3
LOCAL_K = min(4, os.cpu_count() or 1)
CHILD_TIMEOUT_S = 170


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["bulk", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    """One local[k] session whose scratch space all lies under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local  # it would override spark.local.dir
    b = (
        SparkSession.builder.master(f"local[{LOCAL_K}]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
    )
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        # Spark 4's rolling zstd default needs extra packages to read back
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.dir", "file://" + events))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the JVM and its Python workers and wait
    until every one of them has exited."""
    from perfbench.host import tree_pids

    gateway = spark.sparkContext._gateway
    children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in children):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes outlived the session")
        time.sleep(0.05)


def op_latencies(rec) -> dict[str, list[float]]:
    """{op kind: [ms]}: an operation's latency is the sum of the public
    calls it made, so the benchmark's own checks never count."""
    out: dict[str, list[float]] = {}
    for op in rec.spans:
        if op.phase == "timed" and op.parent is None:
            ms = sum(s.ms for s in rec.spans if s.parent == op.id)
            out.setdefault(op.attrs["kind"], []).append(ms)
    return out


def run_workload(args, work: str) -> dict:
    from perfbench.host import RssSampler, calib_ms
    from perfbench.spans import Recorder
    from perfbench.workloads import WORKLOADS

    calib = [calib_ms()]
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            rec = Recorder(spark.sparkContext, tag_jobs=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, args.seed, work, rec)
            reps, failures = [], []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                problems = wl.setup(rep)
                reps.append(time.perf_counter() - t)
                if problems:
                    failures.append(problems)
            attempted = SETUP_REPS  # each set-up ends with a checked warm-up pass
            t = time.perf_counter()
            problems = wl.oracle()
            oracle_s = time.perf_counter() - t
            if problems:
                failures.append(problems)
            calib.append(calib_ms())

            rec.phase = "timed"
            t_start = time.perf_counter()
            k = 0
            # a fixed number of operations, and more while --seconds lasts
            while k < wl.min_ops or time.perf_counter() - t_start < args.seconds:
                with rec.span(args.workload, "op") as op:
                    op.attrs["kind"] = wl.kind(k)
                    try:
                        problems = wl.step(k)
                    except Exception as e:  # a raised call is a failed operation
                        traceback.print_exc()
                        problems = [f"op {k} raised {type(e).__name__}: {e}"]
                attempted += 1
                if problems:
                    failures.append(problems)
                k += 1
            timed_s = time.perf_counter() - t_start
            calib.append(calib_ms())
            ops = op_latencies(rec)
            detail = wl.detail(ops)
            extras = wl.layer_extras() if args.trace else {}
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            stop_s = time.perf_counter() - t
    return {
        "rec": rec, "wl": wl, "ops": ops, "detail": detail, "extras": extras,
        "attempted": attempted, "failures": failures,
        "session_s": session_s, "setup_reps_s": reps,
        "oracle_s": oracle_s, "stop_s": stop_s,
        "setup_s": session_s + statistics.median(reps),
        "timed_s": timed_s, "peak_rss_mb": rss.peak_mb,
        "calib_ms": calib,
    }


def end_to_end(r: dict, op_kind: str) -> dict:
    return {
        "setup_s": {"value": r["setup_s"], "unit": "s"},
        "op_p50_ms": {"value": statistics.median(r["ops"][op_kind]), "unit": "ms"},
        "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
    }


def run_untraced(args) -> dict:
    """The same workload and seed without tracing, in its own process: the
    reference the traced run's overhead is taken against."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=CHILD_TIMEOUT_S)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"untraced reference run exited {out.returncode}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "python_prtree_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds python_prtree_spark/",
              file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench as a package; its modules never shadow stdlib ones

    untraced = run_untraced(args) if args.trace else None
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = run_workload(args, work)
        wl = r["wl"]
        e2e = end_to_end(r, wl.op_kind)
        n_failed = len(r["failures"])
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": f"local[{LOCAL_K}]",
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "session_s": r["session_s"], "setup_reps_s": r["setup_reps_s"],
            "timed_s": r["timed_s"],
            "oracle_s": r["oracle_s"], "stop_s": r["stop_s"],
            "ops_ms": r["ops"],
            "host.calib_ms": r["calib_ms"],
            "end_to_end": e2e,
            **r["detail"],
        }
        detail["metrics"]["fail_ratio"] = {"value": n_failed / r["attempted"], "unit": "ratio"}
        if r["failures"]:
            detail["failures"] = r["failures"][:10]
        if args.trace:
            from perfbench.layers import layer_report

            per_layer, table = layer_report(r, work, untraced, e2e)
            detail["layers"] = table
            detail["spans"] = [sp.as_dict() for sp in r["rec"].spans]
            detail["trace_overhead"] = {
                m: {"traced": e2e[m]["value"], "untraced": untraced["metrics"][m]["value"]}
                for m in e2e}
            metrics = per_layer
        else:
            metrics = e2e
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it, or it is already gone

    detail["wall_s"] = time.perf_counter() - T_PROCESS
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": n_failed == 0, "attempted": r["attempted"],
                      "failed": n_failed, "metrics": metrics}))
    return 0 if n_failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
