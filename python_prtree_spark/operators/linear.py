"""Linear-geometry operators: point-to-segment matching ("snap to nearest
road") — the map-matching primitive every GPS pipeline runs after the
spatial join. North-rule extension; the reference handles boxes only
(core.py), segments are the natural next geometry type.

Point-to-segment distance (exact, closed form):

    t  = clamp(((p-a)·(b-a)) / |b-a|², 0, 1)      (degenerate |ab|=0 → t=0)
    d² = |p - (a + t·(b-a))|²

All arithmetic is the same IEEE double sequence in Spark and DuckDB; d²
is quantized to 1e-6 fixed point (floor) and the PER-POINT WINNER is
chosen by (dist2_q, seg_id) — ranking on the quantized long makes the
tie-break deterministic and engine-independent (two segments within one
quantum of each other resolve by id, identically everywhere).

Distributed plan — ONE spatial shuffle + one skinny window:

  1. each point expands to a ±radius square and routes through the
     cell-partitioned ``batch_query`` against the segment BOUNDING
     BOXES (certificate: d(p, seg) <= r implies the square intersects
     the segment's bbox — the bbox contains the whole segment);
  2. exact JVM d² refine + the closed d² <= r² predicate;
  3. row_number() over (point) ordered by (dist2_q, seg_id) keeps the
     nearest match — the window input is already answer-sized (points ×
     few candidate segments), not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_prtree_spark.config import DEFAULT_CONFIG, EngineConfig
from python_prtree_spark.operators import probe as _probe

__all__ = ["nearest_segment_join", "line_density", "segment_intersection_join"]


def nearest_segment_join(
    segments_df: DataFrame,
    points_df: DataFrame,
    radius: float,
    cfg: EngineConfig = DEFAULT_CONFIG,
    seg_id: str = "seg_id",
    query_id: str = "qid",
    x: str = "x",
    y: str = "y",
    n_data_hint: int | None = None,
) -> DataFrame:
    """segments_df: (seg_id, ax, ay, bx, by) endpoints; points_df:
    (query_id, x, y). → (qid, seg_id, dist2_q): each point's NEAREST
    segment within ``radius`` (quantized-distance rank, seg_id
    tie-break); points with no segment in range emit nothing."""
    r = float(radius)
    if not (r >= 0.0):  # also rejects NaN
        raise ValueError(f"radius must be >= 0, got {radius!r}")
    segs = segments_df.select(
        seg_id, "ax", "ay", "bx", "by",
        F.least("ax", "bx").alias("xmin"), F.least("ay", "by").alias("ymin"),
        F.greatest("ax", "bx").alias("xmax"), F.greatest("ay", "by").alias("ymax"),
    )
    pts = points_df.select(
        query_id, F.col(x).alias("_px"), F.col(y).alias("_py")
    )
    squares = pts.select(
        query_id,
        (F.col("_px") - r).alias("xmin"), (F.col("_py") - r).alias("ymin"),
        (F.col("_px") + r).alias("xmax"), (F.col("_py") + r).alias("ymax"),
    )
    cand = _probe.batch_query(
        segs.select(seg_id, "xmin", "ymin", "xmax", "ymax"),
        squares, cfg, data_id=seg_id, query_id=query_id,
        n_data_hint=n_data_hint,
    )
    abx, aby = F.col("bx") - F.col("ax"), F.col("by") - F.col("ay")
    apx, apy = F.col("_px") - F.col("ax"), F.col("_py") - F.col("ay")
    ab2 = abx * abx + aby * aby
    # degenerate zero-length segment → t = 0 (distance to the point a)
    t = F.when(
        ab2 > 0.0,
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), (apx * abx + apy * aby) / ab2)),
    ).otherwise(F.lit(0.0))
    dx = apx - t * abx
    dy = apy - t * aby
    dist2 = dx * dx + dy * dy
    w = Window.partitionBy(query_id).orderBy("dist2_q", seg_id)
    return (
        cand.join(segs.select(seg_id, "ax", "ay", "bx", "by"), on=seg_id)
        .join(pts, on=query_id)
        .withColumn("dist2_q", F.floor(dist2 * F.lit(1e6)).cast("long"))
        .where(dist2 <= F.lit(r * r))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(query_id, seg_id, "dist2_q")
    )


def line_density(
    segments_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    seg_id: str = "seg_id",
) -> DataFrame:
    """Line density per grid cell (GRASS ``v.rast``/"road density" raster):
    for every cell of the engine's tile grid, the total clipped LENGTH of
    the segments crossing it — the linear-feature rasterization that
    complements rasterize_counts' areal one.

    Clipping is the exact Liang–Barsky parametric window: per (segment,
    cell) the t-interval [t0, t1] of the segment inside the closed cell
    rectangle, length = (t1 - t0)·|ab| when t1 > t0 — pure JVM column
    arithmetic (division/sqrt, the identical IEEE sequence in DuckDB).
    Each contribution quantizes to 1e-6 fixed point BEFORE the per-cell
    sum (the engine-wide order-independence discipline). A segment whose
    degenerate axis rides exactly ON a shared cell edge belongs to the
    single cell that OWNS the coordinate under the engine's clamped
    floor-routing — density never double-counts length — and geometry
    outside the extent contributes nothing.

    → (cell, n_segs, len_q): contributing-segment count and summed
    fixed-point length. Plan: segments route to the cells their bbox
    covers (explode_cells — bounded duplication), the clip evaluates
    per routed row, and ONE map-side-combinable groupBy(cell) sums ~16
    byte partials. Zero-length clips are filtered before the aggregate.
    """
    from python_prtree_spark.functions.tiling import axis_index_sql, explode_cells

    side = 1 << cfg.level
    cw = cfg.extent.width() / side
    chh = cfg.extent.height() / side
    segs = segments_df.select(
        seg_id, "ax", "ay", "bx", "by",
        F.least("ax", "bx").alias("xmin"), F.least("ay", "by").alias("ymin"),
        F.greatest("ax", "bx").alias("xmax"), F.greatest("ay", "by").alias("ymax"),
    )
    routed = explode_cells(segs, cfg.extent, cfg.level)
    ix = F.floor(F.col("cell") / side)
    iy = F.col("cell") % side
    cx0 = F.lit(cfg.extent.xmin) + ix * F.lit(cw)
    cy0 = F.lit(cfg.extent.ymin) + iy * F.lit(chh)
    cx1 = cx0 + F.lit(cw)
    cy1 = cy0 + F.lit(chh)
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")

    def owned(c, e_lo, e_w, idx):
        """Does THIS cell own coordinate column ``c`` under the engine's
        clamped floor-routing (axis_index_sql)? Boundary coordinates belong
        to exactly one cell; out-of-extent coordinates to none."""
        a = F.col(c)
        clamped = F.expr(axis_index_sql(f"`{c}`", e_lo, e_w, side))
        return (a >= F.lit(e_lo)) & (a <= F.lit(e_lo + e_w)) & (clamped == idx)

    def axis_window(d, a, lo, hi, own):
        """(t_lo, t_hi) the axis imposes; degenerate axis → (0, 1) when
        this cell owns the coordinate, else (2, -1) (empty window)."""
        t_lo = F.when(d > 0.0, (lo - a) / d).when(d < 0.0, (hi - a) / d) \
            .otherwise(F.when(own, F.lit(0.0)).otherwise(F.lit(2.0)))
        t_hi = F.when(d > 0.0, (hi - a) / d).when(d < 0.0, (lo - a) / d) \
            .otherwise(F.when(own, F.lit(1.0)).otherwise(F.lit(-1.0)))
        return t_lo, t_hi

    x_lo, x_hi = axis_window(
        dx, F.col("ax"), cx0, cx1,
        owned("ax", cfg.extent.xmin, cfg.extent.width(), ix),
    )
    y_lo, y_hi = axis_window(
        dy, F.col("ay"), cy0, cy1,
        owned("ay", cfg.extent.ymin, cfg.extent.height(), iy),
    )
    t0 = F.greatest(F.lit(0.0), x_lo, y_lo)
    t1 = F.least(F.lit(1.0), x_hi, y_hi)
    ln = F.when(t1 > t0, (t1 - t0) * F.sqrt(dx * dx + dy * dy)).otherwise(F.lit(0.0))
    lq = F.floor(ln * F.lit(1e6)).cast("long")
    return (
        routed.select(F.col("cell").cast("long").alias("cell"), lq.alias("_lq"))
        .where(F.col("_lq") > 0)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum("_lq").alias("len_q"),
        )
    )


def segment_intersection_join(
    a_df: DataFrame,
    b_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    a_id: str = "a_id",
    b_id: str = "b_id",
    n_data_hint: int | None = None,
) -> DataFrame:
    """Line-line overlay (ST_Intersects over two segment layers — road ×
    river crossings): every (a, b) pair whose CLOSED segments intersect,
    touching included.

    Both layers use the engine segment convention (id, ax, ay, bx, by).
    Candidates come from the cell-routed bbox join (one spatial shuffle);
    the refine is polygon_join's exact four-orientation + collinear
    on-segment predicate (operators/polygon.py `_segments_intersect`) —
    pure JVM products of coordinate differences, the identical IEEE
    sequence in DuckDB, so the boolean is engine-exact with no
    quantization needed. → (a_id, b_id), duplicate-free (each pair meets
    in exactly one candidate row)."""
    from python_prtree_spark.operators.polygon import _segments_intersect

    def with_bbox(df, idc):
        return df.select(
            idc, "ax", "ay", "bx", "by",
            F.least("ax", "bx").alias("xmin"), F.least("ay", "by").alias("ymin"),
            F.greatest("ax", "bx").alias("xmax"), F.greatest("ay", "by").alias("ymax"),
        )

    a = with_bbox(a_df, a_id)
    b = with_bbox(b_df, b_id)
    cand = _probe.batch_query(
        a.select(a_id, "xmin", "ymin", "xmax", "ymax"),
        b.select(b_id, "xmin", "ymin", "xmax", "ymax"),
        cfg, data_id=a_id, query_id=b_id, n_data_hint=n_data_hint,
    )
    acoord = a_df.select(
        a_id,
        F.col("ax").alias("ax1"), F.col("ay").alias("ay1"),
        F.col("bx").alias("ax2"), F.col("by").alias("ay2"),
    )
    bcoord = b_df.select(
        b_id,
        F.col("ax").alias("bx1"), F.col("ay").alias("by1"),
        F.col("bx").alias("bx2"), F.col("by").alias("by2"),
    )
    return (
        cand.join(acoord, on=a_id)
        .join(bcoord, on=b_id)
        .where(_segments_intersect())
        .select(a_id, b_id)
    )
