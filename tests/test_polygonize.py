"""polygonize_regions (raster→vector region extraction) vs a brute-force
union-find oracle over the global pixel grid: cross-tile merges, region
ids (min global pixel key), bboxes, value sums, thresholding."""

from __future__ import annotations

import numpy as np

from python_prtree_spark import EngineConfig, Extent
from python_prtree_spark.operators.raster import polygonize_regions, rasterize_counts
from tests.conftest import boxes_df, rand_boxes

CFG = EngineConfig(extent=Extent(0, 0, 100, 100), level=3)
PX = 8
SIDE = 1 << CFG.level
GRID = SIDE * PX


def _pixels_df(spark, rows):
    return spark.createDataFrame(
        [(int(t), int(r), int(c), int(v)) for t, r, c, v in rows],
        "tile long, r int, c int, cnt long",
    )


def _oracle(rows, threshold):
    """{region_id: (n_px, gx0, gy0, gx1, gy1, v_sum)} via union-find."""
    pix = {}
    for t, r, c, v in rows:
        if v >= threshold:
            gx, gy = (t // SIDE) * PX + c, (t % SIDE) * PX + r
            pix[(gx, gy)] = v
    parent = {p: p for p in pix}

    def find(p):
        while parent[p] != p:
            parent[p] = parent[parent[p]]
            p = parent[p]
        return p

    for (gx, gy) in pix:
        for nb in ((gx + 1, gy), (gx, gy + 1)):
            if nb in pix:
                ra, rb = find((gx, gy)), find(nb)
                if ra != rb:
                    parent[rb] = ra
    groups = {}
    for p in pix:
        groups.setdefault(find(p), []).append(p)
    out = {}
    for members in groups.values():
        key = min(gx * GRID + gy for gx, gy in members)
        xs = [gx for gx, _ in members]
        ys = [gy for _, gy in members]
        out[key] = (
            len(members), min(xs), min(ys), max(xs), max(ys),
            sum(pix[m] for m in members),
        )
    return out


def _collect(df):
    return {
        row["region_id"]: (
            row["n_px"], row["gx0"], row["gy0"], row["gx1"], row["gy1"],
            row["v_sum"],
        )
        for row in df.collect()
    }


def test_polygonize_cross_tile_snake(spark):
    # a run spanning three tiles (top row of tile 0, one pixel north of
    # its corner, the east border column of the right neighbor) is ONE
    # 4-connected region; an isolated diagonal pixel stays separate
    rows = []
    t_right = 1 * SIDE + 0  # tile (1, 0) — east neighbor of tile 0
    t_up = 0 * SIDE + 1     # tile (0, 1) — north neighbor of tile 0
    for c in range(PX):
        rows.append((0, PX - 1, c, 1))          # top row of tile 0
    rows.append((t_up, 0, PX - 1, 2))           # continues north across the seam
    for r in range(PX):
        rows.append((t_right, r, 0, 3))         # east column across the seam
    rows.append((t_up, 1, 0, 7))                # diagonal-only — own region
    got = _collect(polygonize_regions(_pixels_df(spark, rows), CFG, px=PX))
    exp = _oracle(rows, 1)
    assert got == exp
    assert len(exp) == 2
    snake = exp[min(exp)]
    assert snake[0] == 2 * PX + 1  # every seam pixel merged
    assert snake[5] == PX * 1 + 2 + PX * 3


def test_polygonize_random_vs_oracle(spark):
    rng = np.random.default_rng(5)
    rows = set()
    for _ in range(600):
        t = int(rng.integers(0, SIDE * SIDE))
        r = int(rng.integers(0, PX))
        c = int(rng.integers(0, PX))
        rows.add((t, r, c))
    rows = [(t, r, c, int((t + r + c) % 5)) for t, r, c in rows]
    for thr in (1, 2):
        got = _collect(
            polygonize_regions(_pixels_df(spark, rows), CFG, px=PX, threshold=thr)
        )
        assert got == _oracle(rows, thr)


def test_polygonize_composes_with_rasterize(spark):
    boxes = rand_boxes(10, 21, ext_max=6.0)
    pxs = rasterize_counts(boxes_df(spark, boxes), CFG, px=PX)
    rows = [(r["tile"], r["r"], r["c"], r["cnt"]) for r in pxs.collect()]
    got = _collect(polygonize_regions(pxs, CFG, px=PX, threshold=1))
    exp = _oracle(rows, 1)
    assert got == exp
    assert len(exp) >= 2


def test_polygonize_boxes_fused_equals_chained(spark):
    """The fused paint+label kernel (polygonize_boxes / label_regions_boxes,
    r6) must be row-identical to the two-stage rasterize_counts ->
    polygonize_regions / label_regions chain it replaces."""
    import pandas as pd

    from python_prtree_spark.operators.raster import (
        label_regions,
        label_regions_boxes,
        polygonize_boxes,
    )

    rng = __import__("numpy").random.default_rng(3)
    n = 400
    mins = rng.random((n, 2)) * 90
    ext = rng.random((n, 2)) * 12
    boxes = spark.createDataFrame(pd.DataFrame({
        "xmin": mins[:, 0], "ymin": mins[:, 1],
        "xmax": mins[:, 0] + ext[:, 0], "ymax": mins[:, 1] + ext[:, 1],
    }))
    for thr in (0, 1, 3):
        chained = sorted(
            tuple(r) for r in polygonize_regions(
                rasterize_counts(boxes, CFG, px=PX), CFG, px=PX, threshold=thr
            ).collect()
        )
        fused = sorted(
            tuple(r)
            for r in polygonize_boxes(boxes, CFG, px=PX, threshold=thr).collect()
        )
        assert fused == chained
        lc = sorted(
            tuple(r) for r in label_regions(
                rasterize_counts(boxes, CFG, px=PX), CFG, px=PX, threshold=thr
            ).collect()
        )
        lf = sorted(
            tuple(r)
            for r in label_regions_boxes(boxes, CFG, px=PX, threshold=thr).collect()
        )
        assert lf == lc


def test_region_shape_stats_boxes_fused_equals_chained(spark):
    import pandas as pd

    from python_prtree_spark.operators.raster import (
        region_shape_stats,
        region_shape_stats_boxes,
    )

    rng = __import__("numpy").random.default_rng(7)
    n = 300
    mins = rng.random((n, 2)) * 90
    ext = rng.random((n, 2)) * 10
    boxes = spark.createDataFrame(pd.DataFrame({
        "xmin": mins[:, 0], "ymin": mins[:, 1],
        "xmax": mins[:, 0] + ext[:, 0], "ymax": mins[:, 1] + ext[:, 1],
    }))
    chained = sorted(
        tuple(r) for r in region_shape_stats(
            rasterize_counts(boxes, CFG, px=PX), CFG, px=PX, threshold=1
        ).collect()
    )
    fused = sorted(
        tuple(r)
        for r in region_shape_stats_boxes(boxes, CFG, px=PX, threshold=1).collect()
    )
    assert fused == chained
