"""anchor_assign vs a brute-force dense-grid reference."""

from __future__ import annotations

import numpy as np
import pandas as pd

from python_prtree_spark.operators.anchors import anchor_assign, anchor_targets


def _brute(gts, stride, sizes, grid=64):
    """Dense enumeration: every anchor in [0, grid)^2 x templates, best
    gt by (iou, -gt_id), only anchors with positive intersection."""
    out = {}
    for _, g in gts.iterrows():
        x0, y0, x1, y1 = (
            round(g["xmin"] * 1000), round(g["ymin"] * 1000),
            round(g["xmax"] * 1000), round(g["ymax"] * 1000),
        )
        for k, s in enumerate(sizes):
            sz = s * 1000
            for ax in range(grid):
                for ay in range(grid):
                    cx, cy = ax * stride * 1000 + stride * 500, ay * stride * 1000 + stride * 500
                    a = (cx - sz // 2, cy - sz // 2, cx + sz // 2, cy + sz // 2)
                    ix = min(x1, a[2]) - max(x0, a[0])
                    iy = min(y1, a[3]) - max(y0, a[1])
                    if ix <= 0 or iy <= 0:
                        continue
                    inter = ix * iy
                    union = (x1 - x0) * (y1 - y0) + sz * sz - inter
                    key = (int(g["img"]), ax, ay, k)
                    cand = (inter / union, -int(g["id"]), inter, union)
                    if key not in out or cand > out[key]:
                        out[key] = cand
    res = {}
    for key, (iou, ng, inter, union) in out.items():
        if inter * 2 >= union:
            lab = "pos"
        elif inter * 5 >= union * 2:
            lab = "ign"
        else:
            lab = "neg"
        res[key] = (-ng, inter, union, lab)
    return res


def test_anchor_assign_matches_brute_force(spark):
    rng = np.random.default_rng(17)
    n = 60
    mins = rng.random((n, 2)) * 9
    ext = 0.5 + rng.random((n, 2)) * 3
    gts = pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        "img": rng.integers(0, 5, n),
        "xmin": np.round(mins[:, 0], 3), "ymin": np.round(mins[:, 1], 3),
        "xmax": np.round(mins[:, 0] + ext[:, 0], 3),
        "ymax": np.round(mins[:, 1] + ext[:, 1], 3),
    })
    got = anchor_assign(
        spark.createDataFrame(gts).repartition(8), stride=2, sizes=(1, 2, 4)
    ).toPandas()
    want = _brute(gts, 2, (1, 2, 4), grid=16)
    got_map = {
        (int(r.img), int(r.ax), int(r.ay), int(r.k)): (
            int(r.gt_id), int(r.inter_units), int(r.union_units), r.label
        )
        for r in got.itertuples()
    }
    assert got_map == want
    # labels consistent with the rational thresholds
    for r in got.itertuples():
        if r.label == "pos":
            assert r.inter_units * 2 >= r.union_units
        elif r.label == "ign":
            assert r.inter_units * 5 >= r.union_units * 2
            assert r.inter_units * 2 < r.union_units
    assert {"pos", "ign", "neg"} >= set(got["label"])
    assert (got["iou"] > 0).all() and (got["iou"] <= 1.0).all()


def test_anchor_targets_encoding(spark):
    """gt = anchor shifted by (+0.5, -0.25) and 1.5x wider: tx/ty/wr/hr
    must be the closed-form offsets; only positive anchors emit."""
    gts = pd.DataFrame({
        "id": [3], "img": [0],
        # anchor (ax=0, ay=0, k=0 size 2) is centered (1,1): box [0,2]^2
        "xmin": [0.5], "ymin": [0.75 - 1.0], "xmax": [3.5], "ymax": [1.75],
    })
    got = anchor_targets(
        spark.createDataFrame(gts), stride=2, sizes=(2,)
    ).toPandas()
    row = got[(got["ax"] == 0) & (got["ay"] == 0)]
    if len(row):  # IoU vs the (0,0) anchor: inter 1.75x2=..., check encoding
        r = row.iloc[0]
        assert r.tx == (0.5 + 3.5 - 2.0) / 4.0      # (gx0+gx1-2cx)/(2s)
        assert r.wr == 3.0 / 2.0
        assert int(r.t_den) == 4000
    # every emitted row is a positive assignment re-derivable from assign
    a = anchor_assign(spark.createDataFrame(gts), stride=2, sizes=(2,)).toPandas()
    pos = a[a["label"] == "pos"]
    assert len(got) == len(pos)
    got_k = {(int(r.img), int(r.ax), int(r.ay), int(r.k)) for r in got.itertuples()}
    pos_k = {(int(r.img), int(r.ax), int(r.ay), int(r.k)) for r in pos.itertuples()}
    assert got_k == pos_k
    for r in got.itertuples():
        assert r.tx == r.tx_num / r.t_den and r.ty == r.ty_num / r.t_den


def test_anchor_assign_unit_case(spark):
    """One gt exactly on one anchor: IoU 1 at the matching template."""
    gts = pd.DataFrame({
        "id": [7], "img": [0],
        "xmin": [0.0], "ymin": [0.0], "xmax": [2.0], "ymax": [2.0],
    })
    got = anchor_assign(
        spark.createDataFrame(gts), stride=2, sizes=(2,)
    ).toPandas()
    exact = got[(got["ax"] == 0) & (got["ay"] == 0)]
    assert len(exact) == 1 and exact["iou"].iloc[0] == 1.0
    assert exact["label"].iloc[0] == "pos"


def test_anchor_targets_with_per_image_gt_ids(spark):
    """ADVICE r5: gt ids only unique PER IMAGE must not fan out the gt
    coordinate join in anchor_targets. Oracle: the same gts with ids
    remapped to globally-unique values — identical rows modulo the id
    remap."""
    gts = pd.DataFrame({
        "id": [1, 1, 2],            # id 1 repeats across images
        "img": [0, 1, 1],
        "xmin": [0.0, 0.5, 8.0], "ymin": [0.0, -0.25, 8.0],
        "xmax": [2.0, 3.5, 10.0], "ymax": [2.0, 1.75, 10.0],
    })
    ggts = gts.assign(id=gts["id"] * 1000 + gts["img"])
    got = anchor_targets(
        spark.createDataFrame(gts), stride=2, sizes=(2,)
    ).toPandas()
    want = anchor_targets(
        spark.createDataFrame(ggts), stride=2, sizes=(2,)
    ).toPandas()
    assert len(got) == len(want)
    key = ["img", "ax", "ay", "k"]
    cols = key + ["tx", "ty", "wr", "hr", "tx_num", "ty_num", "t_den"]
    g = got[cols].sort_values(key).reset_index(drop=True)
    w = want[cols].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w)
    # id remap consistency: gt_id in the per-image run maps to its twin
    m = got.set_index(["img", "ax", "ay", "k"])["gt_id"]
    mw = want.set_index(["img", "ax", "ay", "k"])["gt_id"]
    for k_, v in m.items():
        assert int(v) * 1000 + k_[0] == int(mw[k_])
