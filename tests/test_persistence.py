"""Persistence + checkpoint/lineage + partition-granular resume
(reference save/load at prtree.h:119-143 → durable index tables;
north rule: resumable from checkpoint with per-partition lineage)."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_prtree_spark import EngineConfig, Extent, batch_query, load_index, save_index
from tests.conftest import boxes_df, oracle_pairs, rand_boxes

CFG = EngineConfig(extent=Extent(0, 0, 100, 100), level=4)


@pytest.fixture()
def tmp_index(tmp_path):
    return str(tmp_path / "idx")


def test_save_load_roundtrip(spark, tmp_index):
    """Query results identical pre/post persistence
    (reference tests/unit/test_persistence.py:77-105)."""
    boxes = rand_boxes(2000, 61, ext_max=5.0)
    qboxes = rand_boxes(80, 62, ext_max=5.0)
    d = boxes_df(spark, boxes)
    save_index(d, tmp_index, CFG)
    idx = load_index(spark, tmp_index)
    got = set(
        (r["qid"], r["id"])
        for r in idx.batch_query(boxes_df(spark, qboxes, "qid")).collect()
    )
    assert got == oracle_pairs(qboxes, boxes)
    assert idx.size() == 2000


def test_lineage_metrics(spark, tmp_index):
    boxes = rand_boxes(1000, 63)
    save_index(boxes_df(spark, boxes), tmp_index, CFG)
    lineage = spark.read.parquet(os.path.join(tmp_index, "_lineage"))
    assert set(lineage.columns) >= {"bucket", "n_cells", "n_rows", "status"}
    # cell replication: sum of per-bucket rows >= n (boxes span cells)
    assert lineage.agg(F.sum("n_rows")).collect()[0][0] >= 1000


def test_kill_resume(spark, tmp_index):
    """Simulated kill: drop half the buckets + their lineage rows, then
    resume — only missing buckets are rebuilt, results exact."""
    boxes = rand_boxes(1500, 64, ext_max=5.0)
    d = boxes_df(spark, boxes)
    save_index(d, tmp_index, CFG)

    lineage_path = os.path.join(tmp_index, "_lineage")
    lineage = spark.read.parquet(lineage_path)
    buckets = sorted(r["bucket"] for r in lineage.select("bucket").distinct().collect())
    keep = set(buckets[: len(buckets) // 2])

    # kill: remove data + lineage for the other half
    idx_path = os.path.join(tmp_index, "index")
    for b in buckets:
        if b not in keep:
            shutil.rmtree(os.path.join(idx_path, f"bucket={b}"), ignore_errors=True)
    kept_lineage = lineage.where(F.col("bucket").isin(*keep)).collect()
    shutil.rmtree(lineage_path)
    spark.createDataFrame(kept_lineage, lineage.schema).write.parquet(lineage_path)

    save_index(d, tmp_index, CFG, resume=True)

    idx = load_index(spark, tmp_index)
    qboxes = rand_boxes(60, 65, ext_max=5.0)
    got = set(
        (r["qid"], r["id"])
        for r in idx.batch_query(boxes_df(spark, qboxes, "qid")).collect()
    )
    assert got == oracle_pairs(qboxes, boxes)
    # lineage complete again
    lineage2 = spark.read.parquet(lineage_path)
    assert set(r["bucket"] for r in lineage2.select("bucket").collect()) == set(buckets)


def test_crash_window_resume_no_duplicates(spark, tmp_index):
    """The kill window between the data append and the lineage append
    (sources/store.py): a bucket with DATA but no LINEAGE row must be
    reconciled on resume (overwritten, not appended) — never duplicated."""
    boxes = rand_boxes(1500, 71, ext_max=5.0)
    d = boxes_df(spark, boxes)
    save_index(d, tmp_index, CFG)

    # simulate the crash window: drop lineage rows for half the buckets but
    # KEEP their data directories
    lineage_path = os.path.join(tmp_index, "_lineage")
    lineage = spark.read.parquet(lineage_path)
    buckets = sorted(r["bucket"] for r in lineage.select("bucket").distinct().collect())
    keep = set(buckets[: len(buckets) // 2])
    kept_lineage = lineage.where(F.col("bucket").isin(*keep)).collect()
    shutil.rmtree(lineage_path)
    spark.createDataFrame(kept_lineage, lineage.schema).write.parquet(lineage_path)

    save_index(d, tmp_index, CFG, resume=True)

    idx = load_index(spark, tmp_index)
    qboxes = rand_boxes(60, 72, ext_max=5.0)
    pairs = [
        (r["qid"], r["id"])
        for r in idx.batch_query(boxes_df(spark, qboxes, "qid")).collect()
    ]
    assert len(pairs) == len(set(pairs))  # no duplicate pairs from re-append
    assert set(pairs) == oracle_pairs(qboxes, boxes)
    lineage2 = spark.read.parquet(lineage_path)
    assert set(r["bucket"] for r in lineage2.select("bucket").collect()) == set(buckets)


def _bucket_fingerprint(idx_dir: str) -> dict:
    """bucket dir → {relative file: (size, md5)} for byte-identity checks."""
    import hashlib

    out = {}
    for entry in sorted(os.listdir(idx_dir)):
        if not entry.startswith("bucket="):
            continue
        files = {}
        bdir = os.path.join(idx_dir, entry)
        for root, _, names in os.walk(bdir):
            for n in sorted(names):
                p = os.path.join(root, n)
                with open(p, "rb") as f:
                    files[os.path.relpath(p, bdir)] = (
                        os.path.getsize(p), hashlib.md5(f.read()).hexdigest()
                    )
        out[entry] = files
    return out


def test_refresh_leaves_untouched_buckets_byte_identical(spark, tmp_index):
    """refresh_index must rewrite ONLY dirty buckets (dynamic partition
    overwrite) — untouched bucket directories stay byte-identical."""
    from python_prtree_spark import PRTreeTable
    from python_prtree_spark.sources.store import N_BUCKETS, _bucket_of_cell
    from python_prtree_spark.functions.tiling import explode_cells

    boxes = rand_boxes(3000, 73, ext_max=2.0)
    d = boxes_df(spark, boxes)
    cfg = CFG.with_(strategy="sql")
    t = PRTreeTable(d, cfg)
    save_index(d, tmp_index, t.cfg)
    idx_dir = os.path.join(tmp_index, "index")
    before = _bucket_fingerprint(idx_dir)

    # a tiny localized mutation: one new box in one corner
    t2 = t.insert(boxes_df(spark, np.array([[1.0, 1.0, 1.5, 1.5]]),
                           ids=np.array([99999])))
    dirty_buckets = {
        f"bucket={r['b']}"
        for r in t2.dirty_cells.select(
            _bucket_of_cell("cell", t.cfg.level).alias("b")
        ).distinct().collect()
    }
    assert len(dirty_buckets) < len(before)  # mutation is localized
    t2.refresh_index(tmp_index)
    after = _bucket_fingerprint(idx_dir)

    for b, files in before.items():
        if b not in dirty_buckets:
            assert after[b] == files, f"untouched {b} was rewritten"
    # and the refreshed index answers exactly
    idx = load_index(spark, tmp_index)
    qboxes = rand_boxes(50, 74, ext_max=2.0)
    got = set(
        (r["qid"], r["id"])
        for r in idx.batch_query(boxes_df(spark, qboxes, "qid")).collect()
    )
    all_boxes = np.vstack([boxes, [[1.0, 1.0, 1.5, 1.5]]])
    all_ids = np.concatenate([np.arange(3000), [99999]])
    exp = {(q, int(all_ids[di])) for (q, di) in oracle_pairs(qboxes, all_boxes)}
    assert got == exp


def test_refresh_erase_to_empty(spark, tmp_index):
    """Erasing every row then refreshing must delete the emptied buckets
    (stale packs must not survive a zero-row dynamic overwrite)."""
    from python_prtree_spark import PRTreeTable

    boxes = rand_boxes(200, 75, ext_max=5.0)
    d = boxes_df(spark, boxes)
    cfg = CFG.with_(strategy="sql")
    t = PRTreeTable(d, cfg)
    save_index(d, tmp_index, t.cfg)
    t2 = t.erase(list(range(200)))
    t2.refresh_index(tmp_index)
    idx = load_index(spark, tmp_index)
    assert idx.size() == 0
    qboxes = rand_boxes(20, 76, ext_max=5.0)
    assert idx.batch_query(boxes_df(spark, qboxes, "qid")).count() == 0


def test_loaded_probe_partition_pruning(spark, tmp_index):
    """A localized probe against a persisted index must partition-prune the
    parquet read to the probed buckets (scan ∝ probe footprint, not index
    size) — and still answer exactly."""
    boxes = rand_boxes(2000, 78, ext_max=3.0)
    save_index(boxes_df(spark, boxes), tmp_index, CFG)
    idx = load_index(spark, tmp_index)
    # one tiny probe box in one corner
    qboxes = np.array([[2.0, 2.0, 6.0, 6.0]])
    df = idx.batch_query(boxes_df(spark, qboxes, "qid"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan_lines and any("bucket" in l for l in scan_lines), plan
    got = set((r["qid"], r["id"]) for r in df.collect())
    assert got == oracle_pairs(qboxes, boxes)


def test_incremental_refresh(spark, tmp_index):
    """Dirty-cell incremental rebuild: mutate → refresh_index rewrites only
    touched cells; loaded-index results match a fresh full build."""
    from python_prtree_spark import PRTreeTable

    boxes = rand_boxes(800, 66, ext_max=5.0)
    d = boxes_df(spark, boxes)
    cfg = CFG.with_(strategy="sql")
    t = PRTreeTable(d, cfg)
    save_index(d, tmp_index, t.cfg)

    t2 = t.erase(list(range(100))).insert(
        boxes_df(spark, rand_boxes(50, 67, ext_max=5.0), ids=np.arange(1000, 1050))
    )
    assert t2.dirty_cells
    t2.refresh_index(tmp_index)
    assert not t2.dirty_cells

    idx = load_index(spark, tmp_index)
    qboxes = rand_boxes(60, 68, ext_max=5.0)
    got = set(
        (r["qid"], r["id"])
        for r in idx.batch_query(boxes_df(spark, qboxes, "qid")).collect()
    )
    new_boxes = np.vstack([boxes[100:], rand_boxes(50, 67, ext_max=5.0)])
    new_ids = np.concatenate([np.arange(100, 800), np.arange(1000, 1050)])
    exp = set()
    m = oracle_pairs(qboxes, new_boxes)
    for (q, di) in m:
        exp.add((q, int(new_ids[di])))
    assert got == exp


def test_save_empty_raises(spark, tmp_index):
    """Reference parity (core.py:173-178): saving an empty tree raises."""
    empty = spark.createDataFrame(
        [], "id long, xmin double, ymin double, xmax double, ymax double"
    )
    with pytest.raises(ValueError, match="Cannot save empty tree"):
        save_index(empty, tmp_index, CFG)


def test_bucket_locality(spark):
    """Buckets are contiguous Morton RANGES: an aligned 4x4 cell block (one
    Morton range of 16 keys at level 5) maps to at most 2 buckets — a
    spatially local probe batch prunes to a few partitions. (pmod bucketing
    would scatter the same block across 16 buckets.)"""
    from python_prtree_spark.sources.store import _bucket_of_cell

    side = 32  # level 5
    cells = [ix * side + iy for ix in range(8, 12) for iy in range(16, 20)]
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    got = {
        r["b"] for r in
        df.select(_bucket_of_cell("cell", 5).alias("b")).collect()
    }
    assert len(got) <= 2, got


@pytest.mark.parametrize("level", [3, 6])
def test_bucket_of_cell_matches_written_bucket(spark, level):
    """The read side's bucket of a cell (_bucket_of_cell, used to prune and
    to pick the buckets a refresh rewrites) equals the bucket the writer
    files its pack under (_with_bucket over build_index's zorder), for
    every cell of the grid."""
    from python_prtree_spark.operators.build import build_index
    from python_prtree_spark.sources.store import (
        _bucket_of_cell, _with_bucket,
    )

    side = 1 << level
    # one box at the centre of every cell
    c = (np.arange(side) + 0.5) * (100.0 / side)
    cx, cy = (a.ravel() for a in np.meshgrid(c, c))
    boxes = np.column_stack([cx - 0.1, cy - 0.1, cx + 0.1, cy + 0.1])
    cfg = CFG.with_(level=level)
    idx, _ = build_index(boxes_df(spark, boxes), cfg, n_data_hint=len(boxes))
    rows = _with_bucket(idx, level).select(
        "cell", "bucket", _bucket_of_cell("cell", level).alias("b")
    ).collect()
    assert sorted(r["cell"] for r in rows) == list(range(side * side))
    assert all(r["bucket"] == r["b"] for r in rows)
    assert len({r["b"] for r in rows}) > 1


def test_loaded_index_full_operator_surface(spark, tmp_index):
    """Load-then-query parity beyond batch_query (reference: PRTree(fname)
    exposes the full surface): boxes() reconstructs the base table exactly;
    query_intersections and knn_join on the loaded index match the same
    operators run directly on the original table."""
    import pandas as pd

    from python_prtree_spark import knn_join, query_intersections

    boxes = rand_boxes(400, 55, ext_max=6.0)
    d = boxes_df(spark, boxes)
    save_index(d, tmp_index, CFG)
    li = load_index(spark, tmp_index)

    # boxes(): exact reconstruction (every id once, identical coordinates)
    got = {r["id"]: (r["xmin"], r["ymin"], r["xmax"], r["ymax"])
           for r in li.boxes().collect()}
    exp = {i: tuple(boxes[i]) for i in range(len(boxes))}
    assert got == exp

    pairs_loaded = {(r["id_a"], r["id_b"])
                    for r in li.query_intersections().collect()}
    pairs_direct = {(r["id_a"], r["id_b"])
                    for r in query_intersections(d, CFG).collect()}
    assert pairs_loaded == pairs_direct and pairs_loaded

    rng = np.random.default_rng(56)
    pts = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(20), "x": rng.random(20) * 100,
                      "y": rng.random(20) * 100}),
        schema="qid long, x double, y double",
    )
    knn_direct = {(r["qid"], r["id"], r["rank"])
                  for r in knn_join(d, pts, 3, CFG).collect()}
    # BOTH direct-pack routes (VERDICT r3 item 3) must match the live
    # operator: the single-scan broadcast kernel over pack rows and the
    # expanding-radius certificate loop over the bucket-pruned pack probe
    for route in ("broadcast", "radius"):
        knn_loaded = {(r["qid"], r["id"], r["rank"])
                      for r in li.knn_join(pts, 3, route=route).collect()}
        assert knn_loaded == knn_direct and knn_loaded, route

    # the loaded kNN plan must probe packs directly — no index-wide
    # base-table reconstruction (boxes() = explode + dropDuplicates)
    from python_prtree_spark.plans import explain_str

    plan = explain_str(li.knn_join(pts, 3, route="broadcast"))
    assert "dropDuplicates" not in plan and "Explode" not in plan, plan
    assert "Generate" not in plan, plan  # explode's physical node


def test_loaded_point_query(spark, tmp_index):
    """Loaded-index point probes equal the direct point_query operator."""
    import pandas as pd

    from python_prtree_spark.operators.probe import point_query

    boxes = rand_boxes(500, 57, ext_max=6.0)
    d = boxes_df(spark, boxes)
    save_index(d, tmp_index, CFG)
    li = load_index(spark, tmp_index)
    rng = np.random.default_rng(58)
    pts = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(30), "x": rng.random(30) * 100,
                      "y": rng.random(30) * 100}),
        schema="qid long, x double, y double",
    )
    got = {(r["qid"], r["id"]) for r in li.point_query(pts).collect()}
    exp = {(r["qid"], r["id"]) for r in point_query(d, pts, CFG).collect()}
    assert got == exp and got
