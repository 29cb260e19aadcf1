"""Regression tests for review findings: geometry resolution with a
configured extent and an exact row hint, bucket-scheme meta versioning,
LoadedIndex.point_query column parameters, the kNN broadcast-route hard
row cap, and the multiplication-only raycast crossing test."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from python_prtree_spark import EngineConfig, Extent, load_index, save_index
from python_prtree_spark.operators.build import build_index
from tests.conftest import boxes_df, oracle_pairs, rand_boxes

CFG = EngineConfig(extent=Extent(0, 0, 100, 100), level=4)


def test_extent_without_level_and_exact_hint(spark):
    """extent set, level None, exact n hint: nothing is left to aggregate,
    so geometry resolves without a job (an empty agg() used to raise)."""
    from python_prtree_spark import batch_query

    cfg = EngineConfig(extent=Extent(0, 0, 100, 100), level=None)
    boxes = rand_boxes(300, 12, ext_max=5.0)
    qboxes = rand_boxes(30, 13, ext_max=5.0)
    d = boxes_df(spark, boxes)
    idx, resolved = build_index(d, cfg, n_data_hint=len(boxes))
    assert resolved.level == cfg.resolve_level(len(boxes))
    packed = {i for r in idx.select("ids").collect() for i in r["ids"]}
    assert packed == set(range(len(boxes)))
    got = batch_query(d, boxes_df(spark, qboxes, id_col="qid"), cfg,
                      n_data_hint=len(boxes)).collect()
    assert {(r["qid"], r["id"]) for r in got} == oracle_pairs(qboxes, boxes)


def test_legacy_meta_disables_bucket_pruning_not_results(spark, tmp_path):
    """An index whose meta lacks bucket_scheme (pre-v2 writer) must load
    and answer probes CORRECTLY — the loader skips bucket pruning instead
    of pruning with a formula the writer never used."""
    path = str(tmp_path / "idx")
    boxes = rand_boxes(800, 21, ext_max=5.0)
    qboxes = rand_boxes(40, 22, ext_max=5.0)
    save_index(boxes_df(spark, boxes), path, CFG)
    meta_p = os.path.join(path, "_engine_meta.json")
    with open(meta_p) as f:
        meta = json.load(f)
    assert meta["version"] == 2 and meta["bucket_scheme"] == "morton_range"
    del meta["bucket_scheme"]
    meta["version"] = 1
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    idx = load_index(spark, path)
    assert idx._prune_buckets is False
    got = {
        (r["qid"], r["id"])
        for r in idx.batch_query(boxes_df(spark, qboxes, "qid")).collect()
    }
    assert got == oracle_pairs(qboxes, boxes)


def test_resume_refuses_mismatched_bucket_scheme(spark, tmp_path):
    path = str(tmp_path / "idx")
    save_index(boxes_df(spark, rand_boxes(100, 23)), path, CFG)
    meta_p = os.path.join(path, "_engine_meta.json")
    with open(meta_p) as f:
        meta = json.load(f)
    meta["bucket_scheme"] = "pmod"
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="bucket scheme"):
        save_index(boxes_df(spark, rand_boxes(100, 24)), path, CFG, resume=True)


def test_loaded_point_query_custom_xy_columns(spark, tmp_path):
    path = str(tmp_path / "idx")
    boxes = rand_boxes(500, 25, ext_max=8.0)
    save_index(boxes_df(spark, boxes), path, CFG)
    idx = load_index(spark, path)
    rng = np.random.default_rng(26)
    pts = pd.DataFrame({
        "qid": np.arange(30), "lon": rng.random(30) * 100, "lat": rng.random(30) * 100,
    })
    pdf = spark.createDataFrame(pts, schema="qid long, lon double, lat double")
    got = {
        (r["qid"], r["id"])
        for r in idx.point_query(pdf, x="lon", y="lat").collect()
    }
    qboxes = np.column_stack([pts["lon"], pts["lat"], pts["lon"], pts["lat"]])
    assert got == oracle_pairs(qboxes, boxes)


def test_knn_broadcast_row_cap_falls_back(spark, tmp_path, monkeypatch):
    """When Catalyst's size estimate admits the broadcast route but the
    materialized probe count exceeds the hard cap, kNN must fall back to
    the expanding-radius path and still be exact."""
    from python_prtree_spark import knn_join
    from python_prtree_spark.operators import knn as knn_mod

    boxes = rand_boxes(400, 27, ext_max=4.0)
    d = boxes_df(spark, boxes)
    rng = np.random.default_rng(28)
    p = str(tmp_path / "probes")
    spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(25), "x": rng.random(25) * 100,
                      "y": rng.random(25) * 100}),
        schema="qid long, x double, y double",
    ).write.parquet(p)
    q = spark.read.parquet(p)  # real source → tiny size estimate
    monkeypatch.setattr(knn_mod, "_BCAST_PROBE_ROWS", 5)
    got = knn_join(d, q, 3, CFG).toPandas()
    # exact oracle: 3 nearest centroids by (dist2, id)
    cx = (boxes[:, 0] + boxes[:, 2]) / 2
    cy = (boxes[:, 1] + boxes[:, 3]) / 2
    pts = q.toPandas().sort_values("qid")
    for _, row in pts.iterrows():
        d2 = (cx - row["x"]) ** 2 + (cy - row["y"]) ** 2
        order = np.lexsort((np.arange(len(d2)), d2))[:3]
        mine = got[got["qid"] == row["qid"]].sort_values("rank")["id"].tolist()
        assert mine == order.tolist()


def test_raycast_containment_near_boundary_vertex(spark):
    """ADVICE: a polygon strictly containing another whose first vertex
    lies extremely close to the outer boundary must still be reported
    (multiplication-only crossing comparison, no division rounding)."""
    from python_prtree_spark.operators.polygon import polygon_join

    outer = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    eps = 1e-13
    inner = [(eps, 5.0), (1.0, 4.0), (1.0, 6.0)]

    def ring_df(ring, id_col):
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        row = (0, [{"x": float(x), "y": float(y)} for x, y in ring],
               min(xs), min(ys), max(xs), max(ys))
        return spark.createDataFrame(
            pd.DataFrame([row], columns=[id_col, "ring", "xmin", "ymin",
                                         "xmax", "ymax"]),
            schema=f"{id_col} long, ring array<struct<x double, y double>>, "
                   "xmin double, ymin double, xmax double, ymax double",
        )

    cfg = EngineConfig(extent=Extent(-1, -1, 12, 12), level=2)
    out = polygon_join(
        ring_df(outer, "a_id"), ring_df(inner, "b_id"), cfg, mode="raycast"
    ).collect()
    assert {(r["a_id"], r["b_id"]) for r in out} == {(0, 0)}
