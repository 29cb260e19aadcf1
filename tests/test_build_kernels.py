"""Build-kernel layout: every pack the JVM-only SQL pack (``_pack_sql``)
emits must equal the numpy reference ``STRPack`` over the same rows taken
in ascending id order — row for row and leaf for leaf — and carry the
Morton key of its cell. Coordinates are whole numbers so that x-center
ties, which both layouts break by id, are common."""

from __future__ import annotations

import numpy as np
import pytest

from python_prtree_spark import EngineConfig, Extent
from python_prtree_spark.functions.tiling import morton_encode
from python_prtree_spark.operators.build import build_index
from python_prtree_spark.operators.strpack import STRPack
from tests.conftest import boxes_df

EXT = Extent(0, 0, 100, 100)
B_COLS = ["b_xmin", "b_ymin", "b_xmax", "b_ymax"]


@pytest.mark.parametrize("salted", [False, True])
def test_sql_pack_matches_strpack(spark, salted):
    rng = np.random.default_rng(91 if salted else 92)
    # leaf_size 8 (the reference's B) gives most packs several slabs and a
    # partial last leaf
    cfg = EngineConfig(extent=EXT, level=3, leaf_size=8)
    if salted:
        # cram rows into one cell to force the hot-cell salt path
        n, span, cfg = 2500, 5, cfg.with_(salt_threshold=500)
    else:
        n, span = 1500, 100
    mins = np.floor(rng.random((n, 2)) * span)
    boxes = np.hstack([mins, mins + np.floor(rng.random((n, 2)) * 4)])
    idx, cfg = build_index(boxes_df(spark, boxes), cfg, n_data_hint=n)
    packs = idx.collect()
    side = 1 << cfg.level

    if salted:
        assert any(r["salt"] > 0 for r in packs)
    assert len(packs) > 1
    for r in packs:
        ids = np.asarray(r["ids"], dtype=np.int64)
        order = np.argsort(ids)
        rows = np.column_stack([np.asarray(r[c]) for c in B_COLS])
        ref = STRPack(ids[order], rows[order], cfg.leaf_size)
        assert r["n_rows"] == ref.n and r["leaf_size"] == cfg.leaf_size
        np.testing.assert_array_equal(ids, ref.ids)
        for k, c in enumerate(B_COLS):
            np.testing.assert_array_equal(np.asarray(r[c]), ref.boxes[:, k])
        np.testing.assert_array_equal(
            np.asarray(r["leaf_mbbs"]), ref.leaf_mbbs.ravel())
        cell = r["cell"]
        assert r["zorder"] == int(morton_encode(cell // side, cell % side))
