"""Scale-stress probe (r6, VERDICT r5 item 5): push the build past the 8M
probe (32M boxes) and the spatial join past 10^9 result pairs, on local[32]
with the bench's config shape — to expose memory ceilings and super-linear
cost the sf0.1/8M probes cannot. NOT part of bench.py (frozen); run
standalone, numbers land in BENCH.md.

Methodology mirrors bench.py's 8M probe: fresh DataFrame per sample (fresh
shuffle — no map-output reuse between samples), min over samples, fixed-
flops calib stamps before/after so the artifact carries its throttle state.
Partition counts are logged per stage input (range partitions, checkpoint
partitions, shuffle.partitions) — the scale-adaptive knobs the guide (§2.2,
§6.1) says to watch.

Usage: python tools/scale_stress.py  [build_n=32000000] [join_n=32000000]
Env: SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from python_prtree_spark import EngineConfig, Extent, batch_query
from python_prtree_spark.operators.build import build_index


def calib() -> float:
    import numpy as np

    a = np.random.default_rng(0).standard_normal((512, 512))
    t0 = time.perf_counter()
    for _ in range(8):
        a = a @ a / 512.0
    return round(time.perf_counter() - t0, 3)


def bench_boxes(spark, n: int, parts: int):
    """The bench.py 8M-probe formula, verbatim, at any n."""
    return (
        spark.range(0, n, 1, parts).select(
            F.col("id"),
            ((F.col("id") * 2654435761) % 100000 / 1000.0).alias("xmin"),
            ((F.col("id") * 2246822519) % 100000 / 1000.0).alias("ymin"))
        .withColumn("xmax", F.col("xmin") + 0.01)
        .withColumn("ymax", F.col("ymin") + 0.01)
    )


def join_boxes(spark, n: int, id_col: str, c1, c2, c3, c4, ext_scale: int,
               parts: int):
    """The scaling_job box formula (0.02 base extent) at any n."""
    k = F.col("id") + 1
    xmin = ((k * c1) % 100000).cast("double") / 1000.0
    ymin = ((k * c2) % 100000).cast("double") / 1000.0
    return spark.range(0, n, 1, parts).select(
        F.col("id").alias(id_col),
        xmin.alias("xmin"), ymin.alias("ymin"),
        (xmin + 0.02 + ((k * c3) % ext_scale).cast("double") / 1000.0).alias("xmax"),
        (ymin + 0.02 + ((k * c4) % ext_scale).cast("double") / 1000.0).alias("ymax"),
    )


# Upper bound on the bytes one shuffled or checkpointed box row leaves on
# disk (id, cell, salt, side and four doubles, after the cell explode)
_ROW_BYTES = 128


def shm_local_dir(build_n: int, join_n: int) -> str | None:
    """/dev/shm/spark-local when /dev/shm is writable and its free space
    covers the run's worst-case spill — every build and join sample's
    shuffle files plus the checkpointed inputs at once — else None, which
    leaves Spark's scratch space on disk. A tmpfs that fills mid-run kills
    the run (and shares memory with everything else on the host)."""
    rows = sum(n * (1 + 3) for n in (8_000_000, build_n))  # input + 3 samples
    rows += (join_n + join_n * 3 // 8) * (1 + 2)  # inputs + 2 join samples
    if not os.access("/dev/shm", os.W_OK):
        return None
    if shutil.disk_usage("/dev/shm").free < rows * _ROW_BYTES:
        return None
    return "/dev/shm/spark-local"


def main():
    build_n = int(sys.argv[1]) if len(sys.argv) > 1 else 32_000_000
    join_n = int(sys.argv[2]) if len(sys.argv) > 2 else 32_000_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_parts = max(int(cpus) * 2, 16)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("python_prtree_spark-scale-stress")
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    local_dir = shm_local_dir(build_n, join_n)
    if local_dir is not None:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"cpus": int(cpus), "shuffle_partitions": shuffle_parts}
    calib()  # discard: first probe pays BLAS init

    # ---- build: 8M reference point + the stress size, same level-7 grid
    cfg = EngineConfig(extent=Extent(0, 0, 105, 105), level=7)
    for n in (8_000_000, build_n):
        tag = f"build_{n // 1_000_000}m"
        spark.sparkContext.setJobDescription(tag)
        src = bench_boxes(spark, n, 64).localCheckpoint()
        out[f"{tag}_input_partitions"] = src.rdd.getNumPartitions()
        out[f"{tag}_calib_pre"] = calib()
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            build_index(src, cfg, n_data_hint=n, validate=False)[0] \
                .agg(F.sum("n_rows")).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[f"{tag}_calib_post"] = calib()
        out[f"{tag}_sec"] = round(best, 3)
        out[f"{tag}_boxes_per_sec"] = round(n / best, 1)
        src.unpersist()

    # ---- join: >= 1e9 result pairs (scaling_job formula, n x n/2.67)
    cfg_j = EngineConfig(extent=Extent(0, 0, 105, 105), level=6,
                         strategy="packed", salt_threshold=500_000)
    n_probe = join_n * 3 // 8
    spark.sparkContext.setJobDescription("join_1b")
    data = join_boxes(spark, join_n, "id", 2654435761, 2246822519,
                      3266489917, 668265263, 100, 128).localCheckpoint()
    probes = join_boxes(spark, n_probe, "qid", 377424577, 285995483,
                        198491329, 954979807, 150, 128).localCheckpoint()
    out["join_data_n"] = data.count()
    out["join_probe_n"] = probes.count()
    out["join_input_partitions"] = [data.rdd.getNumPartitions(),
                                    probes.rdd.getNumPartitions()]
    out["join_calib_pre"] = calib()
    best = None
    pairs = 0
    for _ in range(2):
        t0 = time.perf_counter()
        pairs = batch_query(data, probes, cfg_j, n_data_hint=join_n).count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    out["join_calib_post"] = calib()
    out["join_pairs"] = int(pairs)
    out["join_sec"] = round(best, 3)
    out["join_pairs_per_sec"] = round(pairs / best, 1)
    out["join_input_rows_per_sec"] = round((join_n + n_probe) / best, 1)
    spark.sparkContext.setJobDescription(None)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
