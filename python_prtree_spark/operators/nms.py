"""Non-maximum suppression over detection boxes — the dedup step every
object-detection data pipeline runs between the detector and the training
table (a 10^12-image corpus with ~10-100 proposals per image is a
trillion-box NMS problem; single-node implementations assume the whole
detection set fits in one process).

Reference tie-in: NMS is box-overlap self-join + suppression — the same
AABB intersection semantics as the reference's ``query_intersections``
(/root/reference/include/prtree/core/prtree.h:839-958), with IoU replacing
the boolean overlap test and a score order deciding who survives.

Two published variants, both exact here:

* ``mode="greedy"`` — classic sequential NMS (Felzenszwalb et al., PAMI
  2010): visit boxes in (score DESC, id ASC) order; keep a box iff it has
  IoU <= t with every box KEPT so far. Inherently sequential along
  suppression chains — but the chains live inside connected components of
  the IoU>t graph, and the decision for a box provably depends only on its
  component (suppression travels along IoU>t edges only). So the
  distributed plan is: overlap pairs (cell self-join) -> IoU filter ->
  connected components (large/small-star) -> per-component greedy inside
  one Arrow batch. That is the maximal theoretical parallelism for exact
  greedy NMS; components are small in practice (overlap clusters of one
  object), and a pathological all-overlapping corpus degrades to one group
  — document, don't hide.

* ``mode="dominance"`` — one-pass parallel relaxation (the suppression
  rule of Matrix-NMS, Wang et al., CVPR 2020, with a hard threshold): box
  b is suppressed iff SOME higher-ranked box a has IoU(a,b) > t, whether
  or not a itself survives. Over-suppresses relative to greedy (a box
  suppressed by a suppressed box still dies) but is embarrassingly
  parallel: one cell self-join + one anti-join, no iteration.

``iou_match`` is the companion evaluation operator: greedy VOC/COCO
detection<->ground-truth matching (TP/FP flags for mAP), image-local by
definition, so it shuffles once on the image id and runs the exact
sequential kernel per image.

IoU > t is evaluated as the cross-multiplied comparison
``inter * den > num * union`` (t = num/den rational), an identical IEEE
double expression on both engines, so all three are hash-gateable —
greedy's oracle is a recursive CTE that replays the sequential algorithm,
iou_match's steps all images' rank-k detections in parallel carrying the
claimed-gt set as a list.

Scale shape: candidate pairs come from the engine's cell-grid self-join
(one shuffle, AQE skew-split); components run the engine's
``connected_components`` (O(log^2 n) rounds, small-graph driver
short-circuit); the greedy kernel is ``applyInPandas`` over component ids
(one shuffle on component). Scores and ids stay JVM-side until the final
per-component kernel, which receives only (id, score, coords) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_prtree_spark.config import DEFAULT_CONFIG, EngineConfig
from python_prtree_spark.functions.tiling import explode_cells, ref_cell_sql
from python_prtree_spark.operators.components import connected_components

__all__ = [
    "nms_boxes",
    "overlap_iou_pairs",
    "iou_match",
    "detection_ap",
    "temporal_iou_edges",
    "track_by_iou",
    "reliability_bins",
    "fuse_boxes",
    "optimal_iou_match",
]

BOX = ["xmin", "ymin", "xmax", "ymax"]


def _iou_exceeds(t_num: int, t_den: int):
    """IoU(a, b) > t_num/t_den as a cross-multiplied column predicate —
    no division, so the oracle's identical expression matches bitwise."""
    ix = F.greatest(
        F.lit(0.0),
        F.least("a_xmax", "b_xmax") - F.greatest("a_xmin", "b_xmin"),
    )
    iy = F.greatest(
        F.lit(0.0),
        F.least("a_ymax", "b_ymax") - F.greatest("a_ymin", "b_ymin"),
    )
    inter = ix * iy
    area_a = (F.col("a_xmax") - F.col("a_xmin")) * (F.col("a_ymax") - F.col("a_ymin"))
    area_b = (F.col("b_xmax") - F.col("b_xmin")) * (F.col("b_ymax") - F.col("b_ymin"))
    union = area_a + area_b - inter
    return inter * F.lit(float(t_den)) > F.lit(float(t_num)) * union


def overlap_iou_pairs(
    dets: DataFrame,
    t_num: int,
    t_den: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """All pairs with IoU > t_num/t_den, each exactly once (id_a < id_b),
    with both scores attached. Cell-grid self-join: candidates meet in a
    shared cell, the reference-point rule keeps one canonical copy —
    same anti-duplication as pairs.py's SQL path."""
    cols = [id_col, score_col, *BOX]
    data_c = explode_cells(dets.select(*cols), cfg.extent, cfg.level)
    a = data_c.select(
        F.col(id_col).alias("id_a"), F.col(score_col).alias("score_a"), "cell",
        *[F.col(c).alias(f"a_{c}") for c in BOX],
    )
    b = data_c.select(
        F.col(id_col).alias("id_b"), F.col(score_col).alias("score_b"), "cell",
        *[F.col(c).alias(f"b_{c}") for c in BOX],
    )
    ref = F.expr(ref_cell_sql(
        "a_xmin", "a_ymin", "b_xmin", "b_ymin", cfg.extent, cfg.level,
    ))
    return (
        a.join(b, on="cell")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (ref == F.col("cell"))
            & _iou_exceeds(t_num, t_den)
        )
        .select("id_a", "id_b", "score_a", "score_b")
    )


def _greedy_kernel(pdf):
    """Exact sequential greedy NMS over ONE connected component.

    numpy row loop over a single overlap cluster — component sizes are
    object-level (a handful to a few hundred boxes); the quadratic
    kept-vs-candidate IoU check is vectorized over the kept set.
    """
    import numpy as np
    import pandas as pd

    t_num = int(pdf["_tn"].iloc[0])
    t_den = int(pdf["_td"].iloc[0])
    order = np.lexsort((pdf["id"].to_numpy(), -pdf["score"].to_numpy()))
    ids = pdf["id"].to_numpy()[order]
    xmin = pdf["xmin"].to_numpy()[order]
    ymin = pdf["ymin"].to_numpy()[order]
    xmax = pdf["xmax"].to_numpy()[order]
    ymax = pdf["ymax"].to_numpy()[order]
    area = (xmax - xmin) * (ymax - ymin)
    kept_idx: list[int] = []
    kept = np.zeros(len(ids), dtype=bool)
    for i in range(len(ids)):
        if kept_idx:
            k = np.asarray(kept_idx)
            ix = np.maximum(
                0.0, np.minimum(xmax[k], xmax[i]) - np.maximum(xmin[k], xmin[i])
            )
            iy = np.maximum(
                0.0, np.minimum(ymax[k], ymax[i]) - np.maximum(ymin[k], ymin[i])
            )
            inter = ix * iy
            union = area[k] + area[i] - inter
            if bool(np.any(inter * float(t_den) > float(t_num) * union)):
                continue
        kept[i] = True
        kept_idx.append(i)
    return pd.DataFrame({"id": ids, "kept": kept})


def nms_boxes(
    dets: DataFrame,
    t_num: int = 1,
    t_den: int = 2,
    cfg: EngineConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    score_col: str = "score",
    mode: str = "greedy",
) -> DataFrame:
    """Non-maximum suppression -> (id, kept) for EVERY input box.

    ``score_col`` must be integer-valued (long) so the (score DESC,
    id ASC) visit order is engine-independent; ``t_num/t_den`` is the IoU
    threshold as an exact rational (default 1/2).
    """
    if mode not in ("greedy", "dominance"):
        raise ValueError(f"mode must be greedy|dominance, got {mode!r}")
    base = dets.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(score_col).cast("long").alias("score"),
        *BOX,
    )
    pairs = overlap_iou_pairs(
        base, t_num, t_den, cfg, id_col="id", score_col="score"
    )
    if mode == "dominance":
        # rank(a) above rank(b) iff score_a > score_b, ties to the lower id
        a_dominates = (F.col("score_a") > F.col("score_b")) | (
            (F.col("score_a") == F.col("score_b")) & (F.col("id_a") < F.col("id_b"))
        )
        suppressed = pairs.select(
            F.when(a_dominates, F.col("id_b")).otherwise(F.col("id_a")).alias("id")
        ).distinct()
        return base.join(suppressed.withColumn("_s", F.lit(True)), "id", "left").select(
            "id", F.coalesce(~F.col("_s"), F.lit(True)).alias("kept")
        )
    comp = connected_components(pairs.select("id_a", "id_b"))
    grouped = (
        base.join(comp, base["id"] == comp["node"], "left")
        .select(
            "id", "score", *BOX,
            F.coalesce(F.col("component"), F.col("id")).alias("_comp"),
        )
        .withColumn("_tn", F.lit(t_num))
        .withColumn("_td", F.lit(t_den))
    )
    # isolated boxes (no IoU>t neighbor) form singleton components and are
    # trivially kept by the kernel; every box flows through one code path.
    return grouped.groupBy("_comp").applyInPandas(
        _greedy_kernel, schema="id long, kept boolean"
    )


def _match_kernel(pdf):
    """Exact greedy detection<->ground-truth matching over ONE image.

    PASCAL-VOC / COCO evaluation semantics (Everingham et al., IJCV 2010
    s4.4): detections visited in (score DESC, id ASC) order; each claims
    the still-unclaimed ground-truth box with the highest IoU among those
    with IoU > t (ties on IoU broken by the smaller gt id); a detection
    that claims one is a true positive, the rest are false positives.

    The IoU sort key is the float64 division inter/union — the identical
    IEEE expression the DuckDB oracle orders by — while the threshold
    test stays cross-multiplied (inter*den > num*union), so the kernel is
    hash-gateable end to end. Per-image proposal counts are bounded
    (10-100 in real pipelines), so the det x gt IoU matrix is tiny.
    """
    import numpy as np
    import pandas as pd

    t_num = float(pdf["_tn"].iloc[0])
    t_den = float(pdf["_td"].iloc[0])
    det = pdf[pdf["role"] == 1]
    gt = pdf[pdf["role"] == 0]
    if len(det) == 0:
        return pd.DataFrame(
            {"img": [], "det_id": [], "gt_id": [], "tp": []}
        ).astype({"img": "int64", "det_id": "int64", "gt_id": "float64", "tp": "bool"})
    order = np.lexsort((det["id"].to_numpy(), -det["score"].to_numpy()))
    d_id = det["id"].to_numpy()[order]
    dx0 = det["xmin"].to_numpy()[order]
    dy0 = det["ymin"].to_numpy()[order]
    dx1 = det["xmax"].to_numpy()[order]
    dy1 = det["ymax"].to_numpy()[order]
    g_id = gt["id"].to_numpy()
    gx0, gy0 = gt["xmin"].to_numpy(), gt["ymin"].to_numpy()
    gx1, gy1 = gt["xmax"].to_numpy(), gt["ymax"].to_numpy()
    g_area = (gx1 - gx0) * (gy1 - gy0)
    claimed = np.zeros(len(g_id), dtype=bool)
    out_gt = np.full(len(d_id), np.nan)
    for i in range(len(d_id)):
        if len(g_id) == 0:
            break
        ix = np.maximum(0.0, np.minimum(dx1[i], gx1) - np.maximum(dx0[i], gx0))
        iy = np.maximum(0.0, np.minimum(dy1[i], gy1) - np.maximum(dy0[i], gy0))
        inter = ix * iy
        union = (dx1[i] - dx0[i]) * (dy1[i] - dy0[i]) + g_area - inter
        ok = (~claimed) & (inter * t_den > t_num * union)
        if not ok.any():
            continue
        iou = np.where(ok, inter / union, -1.0)
        # argmax IoU, ties -> smallest gt id: lexsort keys are (id, -iou)
        best = np.lexsort((g_id, -iou))[0]
        claimed[best] = True
        out_gt[i] = g_id[best]
    return pd.DataFrame(
        {
            "img": np.full(len(d_id), int(pdf["img"].iloc[0]), dtype=np.int64),
            "det_id": d_id,
            "gt_id": out_gt,
            "tp": ~np.isnan(out_gt),
        }
    )


def iou_match(
    dets: DataFrame,
    gts: DataFrame,
    t_num: int = 1,
    t_den: int = 2,
    img_col: str = "img",
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Greedy VOC/COCO detection evaluation -> (img, det_id, gt_id, tp).

    ``dets`` carries (img, id, score, box); ``gts`` carries (img, id,
    box). Matching is image-local by definition, so the distributed plan
    is the natural one for a 10^12-image corpus: tag roles, union, ONE
    shuffle on the image id (the corpus partitioner — no skew possible,
    per-image proposal counts are bounded by the detector's top-k), then
    the exact sequential kernel per image inside one Arrow batch. No
    driver state, no cross-image traffic.

    ``score_col`` must be integer-valued so visit order is
    engine-independent; ``t_num/t_den`` is the exact rational IoU
    threshold. ``gt_id`` is NULL (and ``tp`` false) for false positives.
    """
    d = dets.select(
        F.col(img_col).cast("long").alias("img"),
        F.col(id_col).cast("long").alias("id"),
        F.col(score_col).cast("long").alias("score"),
        *BOX,
        F.lit(1).alias("role"),
    )
    g = gts.select(
        F.col(img_col).cast("long").alias("img"),
        F.col(id_col).cast("long").alias("id"),
        F.lit(0).cast("long").alias("score"),
        *BOX,
        F.lit(0).alias("role"),
    )
    both = (
        d.unionByName(g)
        .withColumn("_tn", F.lit(int(t_num)))
        .withColumn("_td", F.lit(int(t_den)))
    )
    out = both.groupBy("img").applyInPandas(
        _match_kernel, schema="img long, det_id long, gt_id double, tp boolean"
    )
    # gt ids are integers; the kernel rides them through a float64 (NaN =
    # unmatched) — surface the nullable long the caller expects.
    return out.select(
        "img", "det_id", F.col("gt_id").cast("long").alias("gt_id"), "tp"
    )


def temporal_iou_edges(
    dets: DataFrame,
    t_num: int,
    t_den: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
    frame_col: str = "frame",
    id_col: str = "id",
) -> DataFrame:
    """(id_a, id_b) for every pair of detections in CONSECUTIVE frames
    with IoU > t_num/t_den — the linking step of IoU trackers (Bochinski
    et al., AVSS 2017: high-IoU overlap between frames t and t+1 links
    two observations of the same object).

    Cell-grid join keyed on (cell, frame): Catalyst extracts both
    ``a.cell = b.cell`` and ``a.frame + 1 = b.frame`` as equi-join keys,
    so the shuffle partitioner is the (canvas cell, frame) pair — one
    video frame never melts into another's partition, and within a frame
    the canvas grid bounds the candidate fan-out exactly as in the NMS
    self-join. The reference-point rule dedups pairs that share several
    cells; no id ordering is needed (frames differ by construction)."""
    cols = [frame_col, id_col, *BOX]
    data_c = explode_cells(dets.select(*cols), cfg.extent, cfg.level)
    a = data_c.select(
        F.col(frame_col).cast("long").alias("frame_a"),
        F.col(id_col).alias("id_a"), "cell",
        *[F.col(c).alias(f"a_{c}") for c in BOX],
    )
    b = data_c.select(
        F.col(frame_col).cast("long").alias("frame_b"),
        F.col(id_col).alias("id_b"), "cell",
        *[F.col(c).alias(f"b_{c}") for c in BOX],
    )
    ref = F.expr(ref_cell_sql(
        "a_xmin", "a_ymin", "b_xmin", "b_ymin", cfg.extent, cfg.level,
    ))
    return (
        a.join(
            b,
            (a["cell"] == b["cell"]) & (F.col("frame_a") + 1 == F.col("frame_b")),
        )
        .where((ref == a["cell"]) & _iou_exceeds(t_num, t_den))
        .select("id_a", "id_b")
    )


def track_by_iou(
    dets: DataFrame,
    t_num: int = 1,
    t_den: int = 2,
    cfg: EngineConfig = DEFAULT_CONFIG,
    frame_col: str = "frame",
    id_col: str = "id",
) -> DataFrame:
    """IoU tracking -> (id, frame, track) for EVERY detection: link
    consecutive-frame detections with IoU > t, take connected components
    of the link graph, track id = the component's minimum detection id
    (unlinked detections are their own singleton track).

    This is transitive IoU tracking (a relaxation of greedy IOU-tracker
    matching: any chain of >t overlaps joins one track — deterministic,
    order-free, and exactly reproducible, where greedy per-frame
    assignment depends on processing order). Components run the engine's
    alternating large/small-star CC — O(log^2 n) rounds over the link
    frame only; detection ids must be globally unique."""
    base = dets.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(frame_col).cast("long").alias("frame"),
        *BOX,
    )
    edges = temporal_iou_edges(base, t_num, t_den, cfg, "frame", "id")
    comp = connected_components(edges)
    return (
        base.select("id", "frame")
        .join(comp, base["id"] == comp["node"], "left")
        .select(
            "id", "frame",
            F.coalesce(F.col("component"), F.col("id")).alias("track"),
        )
    )


def _hungarian_min(C):
    """Exact Hungarian (Kuhn-Munkres, potentials + shortest augmenting
    path, O(n^3)) for a SQUARE integer cost matrix, minimizing. Returns
    col_of_row array. Deterministic for a fixed input ordering —
    equal-cost alternate optima resolve by the fixed scan order."""
    import numpy as np

    n = C.shape[0]
    INF = np.iinfo(np.int64).max // 4
    u = np.zeros(n + 1, dtype=np.int64)
    v = np.zeros(n + 1, dtype=np.int64)
    p = np.zeros(n + 1, dtype=np.int64)      # p[j] = row matched to col j
    way = np.zeros(n + 1, dtype=np.int64)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = np.full(n + 1, INF, dtype=np.int64)
        used = np.zeros(n + 1, dtype=bool)
        while True:
            used[j0] = True
            i0 = p[j0]
            delta = INF
            j1 = -1
            for j in range(1, n + 1):
                if not used[j]:
                    cur = C[i0 - 1, j - 1] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j] = cur
                        way[j] = j0
                    if minv[j] < delta:
                        delta = minv[j]
                        j1 = j
            for j in range(n + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    col_of_row = np.zeros(n, dtype=np.int64)
    for j in range(1, n + 1):
        col_of_row[p[j] - 1] = j - 1
    return col_of_row


def _opt_match_kernel(pdf):
    """Optimal assignment over ONE image: maximize the total quantized
    IoU over one-to-one det<->gt pairs with IoU > t (sub-threshold
    pairs contribute zero gain; dummies pad to square). Integer costs
    end to end, so the optimum value is exact."""
    import numpy as np
    import pandas as pd

    t_num = int(pdf["_tn"].iloc[0])
    t_den = int(pdf["_td"].iloc[0])
    det = pdf[pdf["role"] == 1].sort_values("id")
    gt = pdf[pdf["role"] == 0].sort_values("id")
    nd, ng = len(det), len(gt)
    if nd == 0 or ng == 0:
        return pd.DataFrame({
            "img": np.array([], dtype=np.int64),
            "det_id": np.array([], dtype=np.int64),
            "gt_id": np.array([], dtype=np.int64),
            "iou_q": np.array([], dtype=np.int64),
        })
    dx0 = det["xmin"].to_numpy(); dy0 = det["ymin"].to_numpy()
    dx1 = det["xmax"].to_numpy(); dy1 = det["ymax"].to_numpy()
    gx0 = gt["xmin"].to_numpy(); gy0 = gt["ymin"].to_numpy()
    gx1 = gt["xmax"].to_numpy(); gy1 = gt["ymax"].to_numpy()
    ix = np.maximum(0.0, np.minimum(dx1[:, None], gx1[None, :])
                    - np.maximum(dx0[:, None], gx0[None, :]))
    iy = np.maximum(0.0, np.minimum(dy1[:, None], gy1[None, :])
                    - np.maximum(dy0[:, None], gy0[None, :]))
    inter = ix * iy
    union = ((dx1 - dx0) * (dy1 - dy0))[:, None] \
        + ((gx1 - gx0) * (gy1 - gy0))[None, :] - inter
    # quantized gain, zeroed below the exact rational threshold; the
    # division runs only where ok (ok implies union > 0, since inter <=
    # union for non-negative areas) so degenerate zero-area det/gt pairs
    # never trip a divide-by-zero RuntimeWarning
    ok = inter * float(t_den) > float(t_num) * union
    gain = np.floor(
        np.divide(inter * 1e6, union, out=np.zeros_like(union), where=ok)
    ).astype(np.int64)
    n = max(nd, ng)
    C = np.zeros((n, n), dtype=np.int64)
    C[:nd, :ng] = -gain
    col = _hungarian_min(C)
    d_id = det["id"].to_numpy()
    g_id = gt["id"].to_numpy()
    rows = []
    for i in range(nd):
        j = int(col[i])
        if j < ng and gain[i, j] > 0:
            rows.append((int(pdf["img"].iloc[0]), int(d_id[i]),
                         int(g_id[j]), int(gain[i, j])))
    return pd.DataFrame(
        rows, columns=["img", "det_id", "gt_id", "iou_q"]
    ).astype({"img": "int64", "det_id": "int64",
              "gt_id": "int64", "iou_q": "int64"})


def optimal_iou_match(
    dets: DataFrame,
    gts: DataFrame,
    t_num: int = 1,
    t_den: int = 2,
    img_col: str = "img",
    id_col: str = "id",
) -> DataFrame:
    """OPTIMAL detection<->ground-truth assignment per image -> (img,
    det_id, gt_id, iou_q): the one-to-one matching maximizing the total
    quantized IoU (floor(iou*1e6)) over pairs with IoU > t — what
    greedy ``iou_match`` approximates and MOT-style evaluation
    (Bernardin & Stiefelhagen 2008) specifies. Kuhn-Munkres on exact
    integer gains, so the optimum VALUE is exact and engine-free;
    among equal-value optima the returned matching is the
    deterministic one for id-sorted inputs. Same single image-keyed
    shuffle as iou_match; per-image O((max(nd, ng))^3) — bounded by the
    detector's top-k. NO SQL oracle (combinatorial optimization is not
    ANSI-SQL-expressible): rows-only driver gate, pytest proves
    optimality against brute-force permutations and superiority over
    greedy."""
    d = dets.select(
        F.col(img_col).cast("long").alias("img"),
        F.col(id_col).cast("long").alias("id"),
        *BOX,
        F.lit(1).alias("role"),
    )
    g = gts.select(
        F.col(img_col).cast("long").alias("img"),
        F.col(id_col).cast("long").alias("id"),
        *BOX,
        F.lit(0).alias("role"),
    )
    both = (
        d.unionByName(g)
        .withColumn("_tn", F.lit(int(t_num)))
        .withColumn("_td", F.lit(int(t_den)))
    )
    return both.groupBy("img").applyInPandas(
        _opt_match_kernel, schema="img long, det_id long, gt_id long, iou_q long"
    )


def fuse_boxes(
    dets: DataFrame,
    t_num: int = 1,
    t_den: int = 2,
    cfg: EngineConfig = DEFAULT_CONFIG,
    scale: int = 1000,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Ensemble box fusion — the clustering relaxation of Weighted Boxes
    Fusion (Solovyev et al., Image and Vision Computing 2021): boxes
    pooled from several detectors cluster by TRANSITIVE IoU > t
    (deterministic and order-free, where canonical WBF's sequential
    seeding depends on score order), and each cluster fuses to a single
    box at the score-weighted mean of its members' coordinates.

    -> (cluster, n, score_sum, xmin, ymin, xmax, ymax,
        x0_num, y0_num, x1_num, y1_num): cluster = member min id;
    coordinates are score-weighted means as float64 *_num/score_sum
    divisions over exact int64 sums (coords x scale integral, weights =
    integer scores, which must be POSITIVE — a zero-weight member would
    silently vanish from the mean).

    Plan: the NMS cell self-join for IoU pairs, the engine CC for
    clusters, then ONE cluster-keyed exact integer aggregate."""
    base = dets.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(score_col).cast("long").alias("score"),
        *BOX,
    )
    pairs = overlap_iou_pairs(base, t_num, t_den, cfg, "id", "score")
    comp = connected_components(pairs.select("id_a", "id_b"))
    withc = base.join(comp, base["id"] == comp["node"], "left").select(
        F.coalesce(F.col("component"), F.col("id")).alias("cluster"),
        "score",
        F.round(F.col("xmin") * scale).cast("long").alias("x0"),
        F.round(F.col("ymin") * scale).cast("long").alias("y0"),
        F.round(F.col("xmax") * scale).cast("long").alias("x1"),
        F.round(F.col("ymax") * scale).cast("long").alias("y1"),
    )
    agg = withc.groupBy("cluster").agg(
        F.count("*").alias("n"),
        F.sum("score").alias("score_sum"),
        F.sum(F.col("score") * F.col("x0")).alias("x0_num"),
        F.sum(F.col("score") * F.col("y0")).alias("y0_num"),
        F.sum(F.col("score") * F.col("x1")).alias("x1_num"),
        F.sum(F.col("score") * F.col("y1")).alias("y1_num"),
    )
    den = F.col("score_sum").cast("double") * F.lit(float(scale))
    return agg.select(
        "cluster", "n", "score_sum",
        (F.col("x0_num").cast("double") / den).alias("xmin"),
        (F.col("y0_num").cast("double") / den).alias("ymin"),
        (F.col("x1_num").cast("double") / den).alias("xmax"),
        (F.col("y1_num").cast("double") / den).alias("ymax"),
        "x0_num", "y0_num", "x1_num", "y1_num",
    )


def reliability_bins(
    dets: DataFrame,
    gts: DataFrame,
    t_num: int = 1,
    t_den: int = 2,
    n_bins: int = 10,
    score_max: int = 1000,
    img_col: str = "img",
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Reliability diagram / calibration table for detector confidences
    (Guo et al., ICML 2017 s2) -> one row per confidence bin:
    (bin, n, n_tp, acc, conf, gap_units).

    A detection's confidence is score/score_max; detections fall into
    ``n_bins`` equal-width bins (integer arithmetic: bin =
    score * n_bins / score_max, top score clamped into the last bin);
    accuracy per bin is the TP rate under ``iou_match``'s greedy VOC
    flags; ``gap_units`` is the bin's |acc - conf| ECE contribution
    weighted by n, as an exact quantized integer
    floor(|acc-conf| * n * 1e9) — summing gap_units/1e9/N over bins
    gives ECE without any order-dependent float reduction.

    One extra shuffle beyond iou_match (the <= n_bins-row groupBy is
    map-side combined); empty bins are omitted.

    Detection ids only need to be unique PER IMAGE (iou_match's natural
    contract): the score join-back keys on (img, det_id), so per-image
    ids that repeat across images never fan out the join."""
    m = iou_match(dets, gts, t_num, t_den, img_col, id_col, score_col)
    d = dets.select(
        F.col(img_col).cast("long").alias("img"),
        F.col(id_col).cast("long").alias("det_id"),
        F.col(score_col).cast("long").alias("_s"),
    )
    binned = m.join(d, ["img", "det_id"]).select(
        F.least(
            F.lit(int(n_bins) - 1),
            F.floor(F.col("_s") * int(n_bins) / F.lit(int(score_max))).cast("long"),
        ).alias("bin"),
        F.col("tp").cast("long").alias("_tp"),
        "_s",
    )
    agg = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("_tp").alias("n_tp"),
        F.sum("_s").alias("_ssum"),
    )
    acc = F.col("n_tp").cast("double") / F.col("n").cast("double")
    conf = F.col("_ssum").cast("double") / (
        F.col("n").cast("double") * F.lit(float(score_max))
    )
    return agg.select(
        "bin", "n", "n_tp",
        acc.alias("acc"),
        conf.alias("conf"),
        F.floor(
            F.abs(acc - conf) * F.col("n").cast("double") * F.lit(1_000_000_000.0)
        ).cast("long").alias("gap_units"),
    )


def detection_ap(
    dets: DataFrame,
    gts: DataFrame,
    t_num: int = 1,
    t_den: int = 2,
    img_col: str = "img",
    id_col: str = "id",
    score_col: str = "score",
    class_col: str = "cls",
) -> DataFrame:
    """Per-class average precision (the AP in mAP) over ``iou_match``'s
    TP/FP flags -> one row (cls, n_gt, n_det, n_tp, ap_units, ap).

    All-points interpolation (the PASCAL-VOC 2010+ / COCO definition):
    rank each class's detections by (score DESC, det id, img); precision_k =
    cum_tp/k; interpolated precision at rank k is max precision over
    ranks >= k (a running window max over the reversed order); AP =
    (1/n_gt) * sum of interpolated precision at each TP rank.

    ``class_col`` must be constant per image (each image holds one
    class), so per-image matching equals the canonical per-(image,
    class) matching. Classes with zero ground truth are omitted (AP
    undefined); classes with ground truth but no detections score 0.

    Hash-exactness: precision and its running max are identical float64
    expressions on both engines; the only cross-row SUM quantizes first
    — floor(p_interp * 1e9) as int64 — so it is order-free. ``ap`` is
    ``ap_units`` divided once at the end (quantization error < 1e-9 per
    TP).

    Scale shape: iou_match's image shuffle, one det-id join, then
    per-class windows. Exact AP inherently needs a global per-class
    score ranking — the sort is the cost, parallel across classes. At
    10^12 detections per class, roll up per (class, integer-score)
    bucket first and evaluate the PR curve at bucket boundaries; this
    exact form is for the corpus sizes the eval table actually has
    (evaluation sets, not the training corpus)."""
    from pyspark.sql import Window

    m = iou_match(dets, gts, t_num, t_den, img_col, id_col, score_col)
    d = dets.select(
        F.col(img_col).cast("long").alias("img"),
        F.col(id_col).cast("long").alias("det_id"),
        F.col(score_col).cast("long").alias("_s"),
        F.col(class_col).cast("long").alias("cls"),
    )
    ngt = (
        gts.select(F.col(class_col).cast("long").alias("cls"))
        .groupBy("cls")
        .agg(F.count("*").alias("n_gt"))
    )
    # (img, det_id) join: det ids only need to be unique per image
    # (iou_match's contract) — a det_id-only join would fan out when
    # per-image ids repeat across images. The ranking windows carry img
    # as the FINAL tie-break for the same reason (never reached when ids
    # are globally unique, deterministic when they are per-image).
    scored = m.join(d, ["img", "det_id"])
    w_fwd = (
        Window.partitionBy("cls")
        .orderBy(F.col("_s").desc(), F.col("det_id"), F.col("img"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = (
        scored.withColumn("k", F.count("*").over(w_fwd))
        .withColumn("ctp", F.sum(F.col("tp").cast("long")).over(w_fwd))
        .withColumn("prec", F.col("ctp").cast("double") / F.col("k").cast("double"))
    )
    w_suf = (
        Window.partitionBy("cls")
        .orderBy(F.col("_s").asc(), F.col("det_id").desc(), F.col("img").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    interp = ranked.withColumn("pint", F.max("prec").over(w_suf))
    per_tp = interp.where("tp").groupBy("cls").agg(
        F.sum(
            F.floor(F.col("pint") * F.lit(1_000_000_000.0)).cast("long")
        ).alias("ap_units"),
        F.count("*").alias("n_tp"),
    )
    ndet = scored.groupBy("cls").agg(F.count("*").alias("n_det"))
    return (
        ngt.join(ndet, "cls", "left")
        .join(per_tp, "cls", "left")
        .select(
            "cls",
            "n_gt",
            F.coalesce("n_det", F.lit(0)).alias("n_det"),
            F.coalesce("n_tp", F.lit(0)).alias("n_tp"),
            F.coalesce("ap_units", F.lit(0)).alias("ap_units"),
            (
                F.coalesce("ap_units", F.lit(0)).cast("double")
                / F.lit(1_000_000_000.0)
                / F.col("n_gt").cast("double")
            ).alias("ap"),
        )
    )
