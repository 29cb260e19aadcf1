"""Capture .explain('formatted') for every headline query the r6
optimization round touches. Run once from the round-start tree (writes
*_before.txt) and once from the optimized tree (writes *_after.txt):

    python tools/capture_plans_r06.py <out_dir> <suffix>

Plans are captured at sf0.1 with the bench session shape (local[32],
shuffle.partitions=64, AQE on) so Exchange counts match what the driver
bench executes.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from python_prtree_spark.plans.explain import explain_str as fmt  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from bench import CFG, lineitem_boxes, orders_probes
    from __spark_entry__ import part_boxes, supplier_probes, _q_geo_distance, _q_polygonize
    from python_prtree_spark import (
        batch_query, distance_join, knn_join, query_intersections,
    )
    from python_prtree_spark.operators.build import build_index
    from python_prtree_spark.operators.ann import ivf_topk
    from python_prtree_spark.operators.dedup import minhash_lsh_pairs

    li = lineitem_boxes(spark, sf)
    n_li = li.count()
    probes = orders_probes(spark, sf)
    cfg_li = CFG.with_(level=5, strategy="packed")
    pb = part_boxes(spark, sf)
    sp = supplier_probes(spark, sf)

    s = spark.read.parquet(f"{sf}/supplier.parquet")
    k = F.col("s_suppkey")
    pts = s.select(
        k.alias("qid"),
        (((k * 377424577) % 100000).cast("double") / 1000.0).alias("x"),
        (((k * 285995483) % 100000).cast("double") / 1000.0).alias("y"),
    )
    c = spark.read.parquet(f"{sf}/customer.parquet")
    ck = F.col("c_custkey")
    cust_pts = c.select(
        ck.alias("qid"),
        (((ck * 961748927) % 100000).cast("double") / 1000.0).alias("x"),
        (((ck * 920419813) % 100000).cast("double") / 1000.0).alias("y"),
    )
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    ann_probes = emb.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    targets = {
        "build_lineitem": lambda: build_index(li, cfg_li, n_data_hint=n_li)[0]
        .agg(F.sum("n_rows")),
        "spatial_join_big": lambda: batch_query(li, probes, cfg_li, n_data_hint=n_li),
        "batch_query": lambda: batch_query(pb, sp, CFG),
        "intersections": lambda: query_intersections(pb, CFG),
        "knn": lambda: knn_join(pb, pts, 5, CFG),
        "distance_join": lambda: distance_join(pb, cust_pts, 2.0, CFG),
        "dedup_minhash": lambda: minhash_lsh_pairs(docs, 0.8, bands=16),
        "ann_ivf": lambda: ivf_topk(emb, ann_probes, 10, n_centroids=32, n_probe=4),
        "geo_distance": lambda: _q_geo_distance(spark, sf),
        "polygonize": lambda: _q_polygonize(spark, sf),
    }
    for name, mk in targets.items():
        try:
            txt = fmt(mk())
        except Exception as e:  # noqa: BLE001
            txt = f"ERROR: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(name, "ok")
    spark.stop()


if __name__ == "__main__":
    main()
