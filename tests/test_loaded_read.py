"""LoadedIndex.batch_query — the leaf-MBB descent over persisted packs
(reference find_all, prtree.h:587-729) against the numpy brute force:
salted packs, 3D/4D indexes, centroids, edge/outside/zero-area probes,
and an empty probe frame (a multi-file snapshot after one refresh is read
in tests/test_from_index.py)."""

from __future__ import annotations

import numpy as np
import pytest

from python_prtree_spark import EngineConfig, Extent, load_index, save_index
from tests.conftest import boxes_df, oracle_pairs, rand_boxes
from tests.test_nd import nd_df, oracle_nd, rand_boxes_nd

CFG = EngineConfig(extent=Extent(0, 0, 100, 100), level=3, leaf_size=8)


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["qid"], r["id"]) for r in df.collect()}


def test_salted_edge_outside_and_zero_area_reads(spark, tmp_path):
    """One index holding a hot cell split into salt shards, boxes on cell
    and leaf edges (12.5-unit cells), zero-area boxes and boxes past the
    extent. Each row lives in one shard, so the cell join neither drops nor
    duplicates a pair; centroids are the kernel's (xmin + xmax) / 2; an
    empty probe frame yields an empty frame of the same schema."""
    rng = np.random.default_rng(7)
    hot_mins = 1.0 + rng.random((1000, 2)) * 9.0            # inside cell (0, 0)
    grid = np.arange(0, 101, 12.5)
    pts = rng.choice(grid, (150, 2))
    boxes = np.vstack([
        np.hstack([hot_mins, hot_mins + rng.random((1000, 2)) * 0.5]),
        rand_boxes(300, 8, ext_max=4.0),
        np.hstack([pts, pts + rng.choice([0.0, 12.5], (150, 2))]),
        np.hstack([pts, pts]),                              # zero-area on edges
        [[-20.0, -20.0, -5.0, -5.0], [101.0, 40.0, 130.0, 60.0]],
    ])
    path = str(tmp_path / "idx")
    save_index(boxes_df(spark, boxes), path,
               CFG.with_(salt_threshold=200, hist_skip_factor=1))
    idx = load_index(spark, path)
    assert idx.df.where("salt > 0").count() > 0
    qpts = rng.choice(grid, (40, 2))
    qboxes = np.vstack([
        rand_boxes(30, 9, extent=10.0, ext_max=2.0),        # hot cell
        np.hstack([qpts, qpts]),                            # points on edges
        np.hstack([qpts, qpts + 12.5]),                     # exactly one cell
        rand_boxes(30, 10, ext_max=20.0),
        [[-50.0, -50.0, -10.0, -10.0], [-30.0, -30.0, 0.0, 0.0],
         [120.0, 45.0, 125.0, 50.0], [-1e6, -1e6, 1e6, 1e6]],
    ])
    res = idx.batch_query(boxes_df(spark, qboxes, "qid"), with_centroids=True)
    assert res.dtypes == [("qid", "bigint"), ("id", "bigint"),
                          ("_cx", "double"), ("_cy", "double")]
    rows = res.collect()
    got = [(r["qid"], r["id"]) for r in rows]
    assert len(got) == len(set(got))
    assert set(got) == oracle_pairs(qboxes, boxes)
    for r in rows:
        b = boxes[r["id"]]
        assert (r["_cx"], r["_cy"]) == ((b[0] + b[2]) / 2, (b[1] + b[3]) / 2)
    empty = idx.batch_query(boxes_df(spark, np.empty((0, 4)), "qid"),
                            with_centroids=True)
    assert empty.collect() == []
    assert empty.columns == ["qid", "id", "_cx", "_cy"]


@pytest.mark.parametrize("dims", [3, 4])
def test_nd_read_refines_every_dim(spark, tmp_path, dims):
    """leaf_size 8 gives every pack several leaves, so the carried-dim
    arrays are sliced at non-zero offsets."""
    boxes = rand_boxes_nd(800, dims, dims, ext_max=15.0)
    qboxes = rand_boxes_nd(40, dims, dims + 10, ext_max=10.0)
    path = str(tmp_path / f"idx{dims}")
    save_index(nd_df(spark, boxes, dims), path, CFG, dims=dims)
    got = _pairs(load_index(spark, path).batch_query(nd_df(spark, qboxes, dims, "qid")))
    assert got == oracle_nd(qboxes, boxes, dims) and got
