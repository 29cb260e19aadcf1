"""PRTreeTable.from_index (load → mutate → refresh without O(index)
re-pack; VERDICT r2 missing item 1) and the automatic-rebuild contract
(reference REBUILD_THRE = 1.25, types.h:53, prtree.h:411-413, 811-813;
VERDICT r2 next-round item 5)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_prtree_spark import (
    EngineConfig, Extent, PRTreeTable, load_index, save_index,
)
from python_prtree_spark.sources.store import _read_manifest, current_snapshot_version
from tests.conftest import boxes_df, oracle_pairs, rand_boxes

CFG = EngineConfig(extent=Extent(0, 0, 100, 100), level=4, strategy="sql")


def _bucket_fingerprint(idx_dir):
    out = {}
    for entry in sorted(os.listdir(idx_dir)):
        if not entry.startswith("bucket="):
            continue
        p = os.path.join(idx_dir, entry)
        out[entry] = sorted(
            (f, os.path.getsize(os.path.join(p, f)), os.path.getmtime(os.path.join(p, f)))
            for f in os.listdir(p) if f.endswith(".parquet")
        )
    return out


def test_from_index_mutate_refresh_query(spark, tmp_path):
    """save → from_index → erase + insert → refresh → reload → probe must
    equal the oracle over the mutated row set, with untouched bucket
    directories byte-identical."""
    path = str(tmp_path / "idx")
    boxes = rand_boxes(3000, 81, ext_max=2.0)
    save_index(boxes_df(spark, boxes), path, CFG)
    before = _bucket_fingerprint(os.path.join(path, "index"))

    t = PRTreeTable.from_index(spark, path)
    assert t.size() == 3000 and t.n_at_build == 3000
    # localized mutation: erase two corner rows, insert one new corner box
    corner = [i for i, b in enumerate(boxes) if b[0] < 5 and b[1] < 5][:2]
    t = t.erase(corner)
    t = t.insert(boxes_df(spark, np.array([[2.0, 2.0, 2.5, 2.5]]),
                          ids=np.array([77777])))
    t.refresh_index(path)
    after = _bucket_fingerprint(os.path.join(path, "index"))
    changed = [b for b in before if after.get(b) != before[b]]
    assert 0 < len(changed) < len(before), "refresh was not partition-granular"
    # the current snapshot mixes the build's files with the refresh's
    # (part-NNNNN-<write uuid>...), and the read below must cover both
    idx_dir = os.path.join(path, "index")
    files = _read_manifest(idx_dir, current_snapshot_version(idx_dir))["files"]
    assert len({f[11:47] for fs in files.values() for f in fs}) == 2

    idx = load_index(spark, path)
    assert idx.size() == 2999
    qboxes = rand_boxes(60, 82, ext_max=2.0)
    got = {
        (r["qid"], r["id"])
        for r in idx.batch_query(boxes_df(spark, qboxes, "qid")).collect()
    }
    keep = np.setdiff1d(np.arange(3000), corner)
    all_boxes = np.vstack([boxes[keep], [[2.0, 2.0, 2.5, 2.5]]])
    all_ids = np.concatenate([keep, [77777]])
    exp = {(q, int(all_ids[di])) for (q, di) in oracle_pairs(qboxes, all_boxes)}
    assert got == exp


def test_from_index_is_geometry_only_and_rejects_dup_insert(spark, tmp_path):
    path = str(tmp_path / "idx")
    boxes = rand_boxes(300, 83, ext_max=3.0)
    save_index(boxes_df(spark, boxes), path, CFG)
    t = PRTreeTable.from_index(spark, path)
    assert t.payload_cols == []
    with pytest.raises(ValueError, match="already taken"):
        t.insert(boxes_df(spark, boxes[:1], ids=np.array([0])))
    with pytest.raises(RuntimeError, match="Given index is not found"):
        t.erase(999_999)


def test_auto_rebuild_at_growth_threshold_not_below(spark):
    """size > 1.25 * n_at_build triggers the full re-pack (n_at_build
    reset + ALL cells dirty); at exactly 1.25x nothing triggers."""
    boxes = rand_boxes(100, 84, ext_max=3.0)
    t = PRTreeTable(boxes_df(spark, boxes), CFG)
    assert t.n_at_build == 100

    grow25 = boxes_df(spark, rand_boxes(25, 85, ext_max=3.0),
                      ids=np.arange(1000, 1025))
    t125 = t.insert(grow25)
    assert t125.size() == 125
    assert t125.n_at_build == 100, "125 == 1.25*100 must NOT trigger (strict >)"

    one_more = boxes_df(spark, rand_boxes(1, 86, ext_max=3.0),
                        ids=np.array([2000]))
    t126 = t125.insert(one_more)
    assert t126.n_at_build == 126, "126 > 1.25*100 must reset n_at_build"
    # the full re-pack marks EVERY live cell dirty
    from python_prtree_spark.functions.tiling import explode_cells

    all_cells = explode_cells(
        t126.df.select("xmin", "ymin", "xmax", "ymax"),
        t126.cfg.extent, t126.cfg.level,
    ).select("cell").distinct().count()
    assert t126.dirty_cells.distinct().count() == all_cells


def test_auto_rebuild_at_shrink_threshold(spark):
    """1.25 * size < n_at_build triggers the shrink re-pack
    (prtree.h:811-813)."""
    boxes = rand_boxes(100, 87, ext_max=3.0)
    t = PRTreeTable(boxes_df(spark, boxes), CFG)
    t80 = t.erase(list(range(20)))
    assert t80.size() == 80 and t80.n_at_build == 100  # 100 == 1.25*80: no
    t79 = t80.erase([20])
    assert t79.n_at_build == 79, "1.25*79 < 100 must reset n_at_build"


def test_explicit_rebuild_marks_all_dirty(spark, tmp_path):
    """rebuild() then refresh rewrites the whole persisted index (pending
    dirty cells are never silently dropped)."""
    path = str(tmp_path / "idx")
    boxes = rand_boxes(500, 88, ext_max=3.0)
    save_index(boxes_df(spark, boxes), path, CFG)
    t = PRTreeTable.from_index(spark, path)
    t2 = t.rebuild()
    assert t2.n_at_build == 500
    assert t2.dirty_cells is not None
    before = _bucket_fingerprint(os.path.join(path, "index"))
    t2.refresh_index(path)
    after = _bucket_fingerprint(os.path.join(path, "index"))
    assert all(after[b] != before[b] for b in before), "full rebuild must rewrite"
    # and the rebuilt index still answers exactly
    qboxes = rand_boxes(40, 89, ext_max=3.0)
    idx = load_index(spark, path)
    got = {
        (r["qid"], r["id"])
        for r in idx.batch_query(boxes_df(spark, qboxes, "qid")).collect()
    }
    assert got == oracle_pairs(qboxes, boxes)
