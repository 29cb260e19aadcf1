"""Raster ↔ vector operators (north rule): georeferenced image tiles
against convex vector polygons — exact footprint join and pixel-level
zonal statistics.

Two phases, both pure-JVM (no Python UDF):

  phase 1: footprint AABB vs polygon-bbox candidates through the same
    cell-routed spatial join as batch_query (this IS the x/y axis pair of
    the separating-axis test);
  phase 2: exact convex-polygon vs AABB intersection by the Separating
    Axis Theorem over the polygon's edge normals — edges exploded with
    posexplode, vertex projections via array ``transform`` +
    ``array_min/max``, box-corner projections via least/greatest of the
    four corners. A pair intersects iff NO axis separates (closed
    intervals: touching counts, consistent with the engine's AABB
    predicate).

Output: (raster_id, poly_id) pairs, duplicate-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_prtree_spark.config import DEFAULT_CONFIG, EngineConfig
from python_prtree_spark.operators import probe as _probe

__all__ = [
    "raster_vector_join", "zonal_stats", "rasterize_counts",
    "rasterize_tiles", "pyramid_level", "pyramid_level_values",
    "polygonize_regions", "raster_algebra", "zonal_histogram",
    "zonal_majority", "focal_stats", "raster_convolve", "slope_d8",
    "contour_cases", "cost_distance", "viewshed_los",
    "morphology", "structuring_element",
    "flow_direction_d8", "flow_accumulation", "watershed_basins",
    "hough_lines", "hough_table", "glcm", "hog_blocks", "harris_corners",
    "label_regions", "region_shape_stats", "variogram", "otsu_threshold",
    "canny_edges", "template_match_ssd", "focal_median",
    "local_binary_pattern", "morphology_gradient", "top_hat",
    "tile_integral", "terrain_indices", "histogram_match",
    "area_opening", "region_moments", "fast_corners",
    "percentile_stretch", "mask_rle", "bilateral_filter",
]


def raster_vector_join(
    rasters_df: DataFrame,
    polys_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    raster_id: str = "image_id",
    poly_id: str = "poly_id",
) -> DataFrame:
    """rasters_df: (raster_id, xmin, ymin, xmax, ymax) footprint boxes;
    polys_df: (poly_id, ring array<struct<x,y>>, xmin, ymin, xmax, ymax).
    → (raster_id, poly_id) where footprint and convex polygon intersect."""
    # phase 1: bbox candidates (the x/y axes of SAT). batch_query is
    # id-type-generic, so poly_id joins back directly — no synthetic key
    # (monotonically_increasing_id is unstable under recomputation).
    cand = _probe.batch_query(
        polys_df.select(F.col(poly_id).alias("id"), "xmin", "ymin", "xmax", "ymax"),
        rasters_df.select(F.col(raster_id).alias("qid"), "xmin", "ymin", "xmax", "ymax"),
        cfg, data_id="id", query_id="qid",
    ).select(F.col("qid").alias(raster_id), F.col("id").alias(poly_id))

    boxes = rasters_df.select(
        raster_id,
        F.col("xmin").alias("bx0"), F.col("ymin").alias("by0"),
        F.col("xmax").alias("bx1"), F.col("ymax").alias("by1"),
    )
    edges = (
        cand.join(polys_df.select(poly_id, "ring"), on=poly_id)
        .join(boxes, on=raster_id)
        .select(
            raster_id, poly_id, "ring", "bx0", "by0", "bx1", "by1",
            F.posexplode("ring").alias("_i", "_v"),
            F.size("ring").alias("_nv"),
        )
        .withColumn("_w", F.element_at("ring", (F.col("_i") + 1) % F.col("_nv") + 1))
        # edge normal n = (-(y2-y1), x2-x1)
        .withColumn("nx", -(F.col("_w.y") - F.col("_v.y")))
        .withColumn("ny", F.col("_w.x") - F.col("_v.x"))
    )
    # polygon projection interval on n (over ALL vertices of the ring)
    proj = F.transform("ring", lambda v: F.col("nx") * v.x + F.col("ny") * v.y)
    p_min, p_max = F.array_min(proj), F.array_max(proj)
    # box projection interval on n (four corners)
    corners = [
        F.col("nx") * F.col(x) + F.col("ny") * F.col(y)
        for x in ("bx0", "bx1") for y in ("by0", "by1")
    ]
    b_min, b_max = F.least(*corners), F.greatest(*corners)
    separated = (b_max < p_min) | (p_max < b_min)
    return (
        edges.withColumn("_sep", F.when(separated, 1).otherwise(0))
        .groupBy(raster_id, poly_id)
        .agg(F.max("_sep").alias("_any_sep"))
        .where(F.col("_any_sep") == 0)
        .select(raster_id, poly_id)
    )


def _zonal_source(
    tiles_df: DataFrame,
    polys_df: DataFrame,
    cfg: EngineConfig,
    raster_id: str,
    poly_id: str,
    bytes_col: str,
):
    """Shared zonal prep (stats + histogram): SAT footprint candidates,
    zones collect_list'd per tile (bounded by one tile's overlaps), tile
    bytes joined so each tile decodes ONCE. Returns (src, poly_id type)."""
    cand = raster_vector_join(
        tiles_df.select(raster_id, "xmin", "ymin", "xmax", "ymax"),
        polys_df, cfg, raster_id, poly_id,
    )
    zones = (
        cand.join(polys_df.select(poly_id, "ring"), on=poly_id)
        .groupBy(raster_id)
        .agg(F.collect_list(F.struct(F.col(poly_id).alias("pid"), "ring")).alias("_zones"))
    )
    src = zones.join(
        tiles_df.select(raster_id, bytes_col, "xmin", "ymin", "xmax", "ymax"),
        on=raster_id,
    )
    # spread before the decode/mask kernel: with a single-file tile table
    # the broadcast join inherits ONE partition and the whole per-tile
    # Python kernel runs serially (measured: the entire zonal kernel on one
    # task, ~200 us/tile x 15k tiles); no-op when already parallel
    from python_prtree_spark.operators.dedup import _spread

    return _spread(src), polys_df.schema[poly_id].dataType.simpleString()


def zonal_stats(
    tiles_df: DataFrame,
    polys_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    raster_id: str = "image_id",
    poly_id: str = "poly_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Pixel-level zonal statistics: aggregate decoded raster values per
    convex polygon ("zone"), the canonical raster↔vector analytics op.

    tiles_df: (raster_id, bytes, xmin, ymin, xmax, ymax) — georeferenced
    tiles; the footprint box is the image extent and pixel (r, c) has its
    center at ``(xmin + (c+0.5)*((xmax-xmin)/w), ymin + (r+0.5)*
    ((ymax-ymin)/h))`` with row 0 at ymin (min-corner convention).
    polys_df: (poly_id, ring array<struct<x,y>> CCW, xmin..ymax).

    → (poly_id, n_px, sum_val, min_val, max_val, mean_val): count of
    inside pixels, sum/min/max over all channel samples of those pixels,
    mean = sum/(3*n). A pixel belongs to the zone iff its CENTER passes
    the inclusive half-plane test (cross >= 0 for every CCW edge) — the
    same closed-boundary convention as point_in_polygon_join.

    Plan (three keyed shuffles, decode-once, no cartesian):

      1. candidate (tile, zone) pairs via the exact SAT footprint join
         (raster_vector_join) — a tile pruned there has no area overlap,
         hence no inside pixel centers, so pruning is lossless;
      2. zones grouped per tile (collect_list of rings — bounded by the
         zones overlapping ONE tile footprint, not the corpus) and joined
         to the tile bytes, so each tile is DECODED ONCE and masked k
         times, instead of k decodes via a pair-level join;
      3. an Arrow-batched kernel (mapInPandas) decodes, builds the pixel-
         center lattice, vectorized-masks per zone (early-exit when a
         half-plane empties the mask) and emits one tiny partial row
         (n, sum, min, max) per (tile, zone);
      4. final JVM groupBy(poly_id) — partial rows are ~32 bytes, so even
         a zone covering the whole corpus aggregates with map-side
         combine instead of materializing pixels.

    Sums are exact: channel samples are uint8 so Σ over < 2^45 samples
    stays inside the int64/double-exact range, making the result
    independent of partitioning and summation order. mean_val is one
    double division at the end.
    """
    import numpy as np
    import pandas as pd

    from python_prtree_spark.functions.codec import decode_image

    src, ptype = _zonal_source(
        tiles_df, polys_df, cfg, raster_id, poly_id, bytes_col
    )

    def gen(batches):
        for pdf in batches:
            pids, ns, sums, mns, mxs = [], [], [], [], []
            for zs, data, x0, y0, x1, y1 in zip(
                pdf["_zones"], pdf[bytes_col],
                pdf["xmin"], pdf["ymin"], pdf["xmax"], pdf["ymax"],
            ):
                px = decode_image(bytes(data))
                h, w = px.shape[:2]
                # pixel-center lattice — mirrors the documented convention
                # expression-for-expression (bit-reproducible in SQL)
                xc = x0 + (np.arange(w) + 0.5) * ((x1 - x0) / w)
                yc = y0 + (np.arange(h) + 0.5) * ((y1 - y0) / h)
                X, Y = xc[None, :], yc[:, None]
                for z in zs:
                    ring = z["ring"]
                    nv = len(ring)
                    mask = np.ones((h, w), dtype=bool)
                    for i in range(nv):
                        v, u = ring[i], ring[(i + 1) % nv]
                        crossp = (u["x"] - v["x"]) * (Y - v["y"]) \
                            - (u["y"] - v["y"]) * (X - v["x"])
                        mask &= crossp >= 0
                        if not mask.any():
                            break
                    n = int(mask.sum())
                    if n == 0:
                        continue
                    vals = px[mask]
                    pids.append(z["pid"])
                    ns.append(n)
                    sums.append(int(vals.sum(dtype=np.int64)))
                    mns.append(int(vals.min()))
                    mxs.append(int(vals.max()))
            yield pd.DataFrame({
                "pid": pids,
                "n_px": pd.Series(ns, dtype="int64"),
                "sum_val": pd.Series(sums, dtype="int64"),
                "min_val": pd.Series(mns, dtype="int32"),
                "max_val": pd.Series(mxs, dtype="int32"),
            })

    partials = src.mapInPandas(
        gen,
        schema=f"pid {ptype}, n_px long, sum_val long, min_val int, max_val int",
    )
    return (
        partials.groupBy(F.col("pid").alias(poly_id))
        .agg(
            F.sum("n_px").alias("n_px"),
            F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
        .withColumn("mean_val", F.col("sum_val") / (F.lit(3) * F.col("n_px")))
    )


def _paint_tile_counts(tile, pdf, cfg, px, np):
    """Difference-array paint of one tile: per-pixel count of boxes whose
    closed box contains the pixel center. O(boxes + px^2), fully
    vectorized (searchsorted + add.at + 2D cumsum)."""
    side = 1 << cfg.level
    cw = cfg.extent.width() / side
    chh = cfg.extent.height() / side
    ix, iy = tile // side, tile % side
    tx0 = cfg.extent.xmin + ix * cw
    ty0 = cfg.extent.ymin + iy * chh
    # identical expression shape to zonal_stats / the SQL oracle
    xc = tx0 + (np.arange(px) + 0.5) * (cw / px)
    yc = ty0 + (np.arange(px) + 0.5) * (chh / px)
    # first/last pixel-center index inside [min, max] (closed; centers
    # ascending, so searchsorted reproduces the compare exactly)
    i0 = np.searchsorted(xc, pdf["xmin"].to_numpy(), "left")
    i1 = np.searchsorted(xc, pdf["xmax"].to_numpy(), "right") - 1
    j0 = np.searchsorted(yc, pdf["ymin"].to_numpy(), "left")
    j1 = np.searchsorted(yc, pdf["ymax"].to_numpy(), "right") - 1
    ok = (i0 <= i1) & (j0 <= j1)
    D = np.zeros((px + 1, px + 1), dtype=np.int64)
    np.add.at(D, (j0[ok], i0[ok]), 1)
    np.add.at(D, (j0[ok], i1[ok] + 1), -1)
    np.add.at(D, (j1[ok] + 1, i0[ok]), -1)
    np.add.at(D, (j1[ok] + 1, i1[ok] + 1), 1)
    return D.cumsum(axis=0).cumsum(axis=1)[:px, :px]  # [r=y, c=x]


def rasterize_counts(
    boxes_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
) -> DataFrame:
    """Vector→raster: sparse per-pixel coverage counts on a ``2^level ×
    2^level`` tile grid with ``px × px`` pixels per tile.

    → (tile, r, c, cnt): tile = ix*side + iy (the engine's cell id),
    pixel (r, c) center at ``(tile_x0 + (c+0.5)*(cellw/px), tile_y0 +
    (r+0.5)*(cellh/px))``, cnt = number of input boxes whose CLOSED box
    contains that center. Zero-count pixels are omitted (sparse — output
    is bounded by covered pixels, not the full grid).

    Scale shape: boxes replicate only to the tiles their bbox covers
    (explode_cells — the same bounded duplication as the spatial join),
    ONE shuffle groups them per tile, and the kernel paints each tile
    with a difference array + 2D cumsum: O(boxes_in_tile + px²) per
    tile, independent of how many pixels each box covers — a
    continent-sized box costs 4 writes per tile, never an explosion of
    per-pixel rows."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark.functions.tiling import explode_cells

    routed = explode_cells(
        boxes_df.select("xmin", "ymin", "xmax", "ymax"), cfg.extent, cfg.level
    )

    def paint(key, pdf):
        cnt = _paint_tile_counts(int(key[0]), pdf, cfg, px, np)
        r, c = np.nonzero(cnt)
        return pd.DataFrame({
            "tile": np.full(len(r), int(key[0]), dtype=np.int64),
            "r": r.astype(np.int32), "c": c.astype(np.int32),
            "cnt": cnt[r, c],
        })

    return routed.groupBy("cell").applyInPandas(
        paint, schema="tile long, r int, c int, cnt long"
    )


def rasterize_tiles(
    boxes_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
) -> DataFrame:
    """Vector→raster with REAL image output: each covered tile renders a
    grayscale coverage heatmap (value = min(count, 255), replicated to
    RGB) encoded by the engine's spec-compliant PNG encoder.

    → (tile, png, w, h). The inverse of zonal_stats' raster→vector
    direction: rasterize_tiles output can be fed straight back through
    decode_image / zonal_stats. Same painted counts as rasterize_counts
    (pytest asserts decode(png) == min(counts, 255) per pixel)."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark.functions.codec import encode_png
    from python_prtree_spark.functions.tiling import explode_cells

    routed = explode_cells(
        boxes_df.select("xmin", "ymin", "xmax", "ymax"), cfg.extent, cfg.level
    )

    def paint(key, pdf):
        cnt = _paint_tile_counts(int(key[0]), pdf, cfg, px, np)
        v = np.minimum(cnt, 255).astype(np.uint8)
        png = encode_png(np.repeat(v[:, :, None], 3, axis=2))
        return pd.DataFrame({
            "tile": pd.Series([int(key[0])], dtype="int64"),
            "png": [png],
            "w": pd.Series([px], dtype="int32"),
            "h": pd.Series([px], dtype="int32"),
        })

    return routed.groupBy("cell").applyInPandas(
        paint, schema="tile long, png binary, w int, h int"
    )


def _pyramid_groups(
    tiles_df: DataFrame,
    level: int,
    px: int,
    tile_col: str,
    png_col: str,
):
    """Route child tiles to their parent (2x2 reduce-by-key) and return
    the grouped frame plus the per-group stitch kernel input shape.
    Parent id on the level-1 grid: (ix//2)*(side/2) + iy//2.

    Input contract: one row per tile id (duplicate ids would race for the
    same quadrant); level >= 1 (level 0 is a single tile — no parent)."""
    if level < 1:
        raise ValueError("pyramid_level needs level >= 1 (level 0 has no parent grid)")
    side = 1 << level
    ix = F.floor(F.col(tile_col) / side)
    iy = F.col(tile_col) % side
    parent = (F.floor(ix / 2) * (side // 2) + F.floor(iy / 2)).cast("long")
    return tiles_df.select(
        parent.alias("_parent"), F.col(tile_col).alias("_child"),
        F.col(png_col).alias("_png"),
    ).groupBy("_parent"), side


def _stitch_downsample(pdf, side, px, np, decode_png):
    """Decode the (<=4) child PNGs of one parent, place by quadrant, and
    2x2-mean-downsample (integer floor — exact, order-independent).
    Missing quadrants are zero. Returns the px x px uint8 parent plane."""
    s = np.zeros((2 * px, 2 * px), dtype=np.int64)
    for child, data in zip(pdf["_child"], pdf["_png"]):
        cix, ciy = int(child) // side, int(child) % side
        qx, qy = cix % 2, ciy % 2
        img = decode_png(bytes(data))
        s[qy * px:(qy + 1) * px, qx * px:(qx + 1) * px] = img[:, :, 0]
    return (
        (s[0::2, 0::2] + s[1::2, 0::2] + s[0::2, 1::2] + s[1::2, 1::2]) // 4
    ).astype(np.uint8)


def pyramid_level(
    tiles_df: DataFrame,
    level: int,
    px: int = 16,
    tile_col: str = "tile",
    png_col: str = "png",
) -> DataFrame:
    """Tile-pyramid reduction (map-tile mipmapping): merge each 2x2 block
    of grayscale PNG tiles at ``level`` into one parent PNG tile at
    ``level - 1`` — decode (the engine's real PNG codec), stitch by
    quadrant, 2x2 integer-mean downsample, re-encode.

    → (tile, png, w, h) on the level-1 grid; parents appear iff at least
    one child exists (missing quadrants are zero). One shuffle of
    compressed child tiles keyed by parent — the standard reduce-by-key
    pyramid step; apply repeatedly for deeper levels. Composes directly
    over rasterize_tiles output."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark.functions.codec import decode_png, encode_png

    grouped, side = _pyramid_groups(tiles_df, level, px, tile_col, png_col)

    def merge(key, pdf):
        v = _stitch_downsample(pdf, side, px, np, decode_png)
        png = encode_png(np.repeat(v[:, :, None], 3, axis=2))
        return pd.DataFrame({
            "tile": pd.Series([int(key[0])], dtype="int64"), "png": [png],
            "w": pd.Series([px], dtype="int32"),
            "h": pd.Series([px], dtype="int32"),
        })

    return grouped.applyInPandas(merge, schema="tile long, png binary, w int, h int")


def pyramid_level_values(
    tiles_df: DataFrame,
    level: int,
    px: int = 16,
    tile_col: str = "tile",
    png_col: str = "png",
) -> DataFrame:
    """Row form of pyramid_level for exact gating: the same decode →
    stitch → 2x2-floor-mean kernel, emitting sparse (tile, r, c, v) rows
    (v > 0) instead of re-encoding — SQL-replicable from the child pixel
    values, so the REAL PNG decode of engine-encoded tiles sits inside a
    hash-checked chain."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark.functions.codec import decode_png

    grouped, side = _pyramid_groups(tiles_df, level, px, tile_col, png_col)

    def merge(key, pdf):
        v = _stitch_downsample(pdf, side, px, np, decode_png)
        r, c = np.nonzero(v)
        return pd.DataFrame({
            "tile": np.full(len(r), int(key[0]), dtype=np.int64),
            "r": r.astype(np.int32), "c": c.astype(np.int32),
            "v": v[r, c].astype(np.int64),
        })

    return grouped.applyInPandas(merge, schema="tile long, r int, c int, v long")


def _label_tile(r, c, v, tile, side, px, grid, np, pd):
    """Per-tile min-label propagation over the lit pixels (r, c) of one
    tile: the local-root stage shared by label_regions (sparse-pixel
    input) and the fused paint+label kernel (box input). Loop count is
    the local region diameter, not the pixel count."""
    ix, iy = tile // side, tile % side
    gx = ix * px + c
    gy = iy * px + r
    key0 = gx.astype(np.int64) * grid + gy
    lab = np.full((px + 2, px + 2), np.iinfo(np.int64).max, dtype=np.int64)
    lab[r + 1, c + 1] = key0
    active = np.zeros((px + 2, px + 2), dtype=bool)
    active[r + 1, c + 1] = True
    while True:
        m = np.minimum.reduce([
            lab[1:-1, 1:-1], lab[:-2, 1:-1], lab[2:, 1:-1],
            lab[1:-1, :-2], lab[1:-1, 2:],
        ])
        m = np.where(active[1:-1, 1:-1], m, np.iinfo(np.int64).max)
        if (m == lab[1:-1, 1:-1]).all():
            break
        lab[1:-1, 1:-1] = m
    return pd.DataFrame({
        "gx": gx.astype(np.int32), "gy": gy.astype(np.int32),
        "root": lab[r + 1, c + 1],
        "v": v,
    })


def _regions_from_labeled(labeled: DataFrame, px: int) -> DataFrame:
    """Steps 2-4 of the region pipeline, shared by every label source:
    border-only equi-joins over tile seams, large/small-star CC over the
    LOCAL-ROOT graph, final label = component of the local root."""
    labeled = labeled.localCheckpoint(eager=False)

    right = labeled.where(F.col("gx") % px == px - 1).select(
        (F.col("gx") + 1).alias("jx"), F.col("gy").alias("jy"),
        F.col("root").alias("id_a"),
    )
    left = labeled.where(F.col("gx") % px == 0).select(
        F.col("gx").alias("jx"), F.col("gy").alias("jy"),
        F.col("root").alias("id_b"),
    )
    top = labeled.where(F.col("gy") % px == px - 1).select(
        F.col("gx").alias("jx"), (F.col("gy") + 1).alias("jy"),
        F.col("root").alias("id_a"),
    )
    bottom = labeled.where(F.col("gy") % px == 0).select(
        F.col("gx").alias("jx"), F.col("gy").alias("jy"),
        F.col("root").alias("id_b"),
    )
    # no .distinct() here: connected_components re-distincts its edge input
    # anyway, so the extra exchange+aggregate was pure duplicate work
    edges = (
        right.join(left, on=["jx", "jy"]).select("id_a", "id_b")
        .unionByName(top.join(bottom, on=["jx", "jy"]).select("id_a", "id_b"))
        .where(F.col("id_a") != F.col("id_b"))
    )

    from python_prtree_spark.operators.components import connected_components

    comp = connected_components(edges)
    final = F.coalesce(F.col("component"), F.col("root"))
    return (
        labeled.join(comp, labeled["root"] == comp["node"], "left")
        .select("gx", "gy", "v", final.alias("region_id"))
    )


def label_regions(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    threshold: int = 1,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Per-pixel 4-connected region labels across the whole mosaic —
    the labeling stage of polygonize_regions, exposed so shape
    statistics / zonal chains can consume pixel-granular labels.
    Same plan as polygonize_regions steps 1-3 (per-tile Arrow
    min-propagation, border-only equi-joins, large/small-star CC);
    region_id = smallest global pixel key (gx * grid + gy) in the
    region, engine-independent.

    → (gx, gy, v, region_id) one row per lit (>= threshold) pixel,
    global pixel coordinates."""
    import numpy as np
    import pandas as pd

    side = 1 << cfg.level
    grid = side * px
    src = pixels_df.select(
        F.col(tile_col).alias("_tile"),
        F.col("r").cast("int").alias("r"),
        F.col("c").cast("int").alias("c"),
        F.col(value_col).cast("long").alias("_v"),
    ).where(F.col(value_col) >= threshold)

    def label(key, pdf):
        return _label_tile(
            pdf["r"].to_numpy(), pdf["c"].to_numpy(), pdf["_v"].to_numpy(),
            int(key[0]), side, px, grid, np, pd,
        )

    labeled = src.groupBy("_tile").applyInPandas(
        label, schema="gx int, gy int, root long, v long"
    )
    return _regions_from_labeled(labeled, px)


def label_regions_boxes(
    boxes_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    threshold: int = 1,
) -> DataFrame:
    """Fused `rasterize_counts` → `label_regions` (r6 optimization,
    guide §1.2/§2.4): when the pixels come straight from a box paint,
    the paint groups ARE the label groups (both keyed by tile), so the
    difference-array paint and the per-tile min-propagation run in ONE
    `applyInPandas` kernel — removing a whole exchange + Python stage
    (the sparse pixel rows never cross the JVM↔Python boundary as an
    intermediate). Output is row-identical (modulo row order) to
    ``label_regions(rasterize_counts(boxes_df, cfg, px), cfg, px,
    threshold)`` — pinned by pytest and the polygonize oracle."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark.functions.tiling import explode_cells

    side = 1 << cfg.level
    grid = side * px
    thr = max(1, int(threshold))
    routed = explode_cells(
        boxes_df.select("xmin", "ymin", "xmax", "ymax"), cfg.extent, cfg.level
    )

    def paint_label(key, pdf):
        tile = int(key[0])
        cnt = _paint_tile_counts(tile, pdf, cfg, px, np)
        r, c = np.nonzero(cnt >= thr)
        return _label_tile(
            r, c, cnt[r, c].astype(np.int64), tile, side, px, grid, np, pd,
        )

    labeled = routed.groupBy("cell").applyInPandas(
        paint_label, schema="gx int, gy int, root long, v long"
    )
    return _regions_from_labeled(labeled, px)


def polygonize_regions(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    threshold: int = 1,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Raster→vector extraction (GDAL ``polygonize`` analogue): group the
    pixels with value >= threshold into 4-connected regions across the
    WHOLE mosaic and emit one vector feature per region — the inverse
    direction of zonal_stats, closing the raster<->vector loop.

    pixels_df: sparse (tile, r, c, value) rows, one row per lit pixel
    (rasterize_counts output shape); pixel (r, c) of tile (ix*side + iy)
    has global grid coordinates gx = ix*px + c, gy = iy*px + r.

    → (region_id, n_px, gx0, gy0, gx1, gy1, v_sum): region_id is the
    smallest global pixel key (gx * side*px + gy) in the region —
    deterministic and engine-independent, so a recursive-CTE SQL oracle
    gates it exactly; bbox in global pixel coordinates; v_sum the exact
    long sum of pixel values.

    Distributed plan (the standard two-level connected-components shape —
    pixel-local work stays in tiles, only REGION-level structure crosses
    the wire — see label_regions, which is steps 1-3):

      1. per-tile Arrow kernel labels each tile's pixels by iterated
         min-neighbor propagation on the px×px grid (O(px² · local
         diameter) integer ops, no Python per-pixel loops) — emits one
         row per lit pixel tagged with its LOCAL root key;
      2. tile-border adjacency in pure JVM: only border-column/row pixels
         join their neighbors in the adjacent tile (two equi-joins on
         shifted coordinates — candidate volume is border pixels, not
         the raster);
      3. alternating large-star/small-star connected components over the
         LOCAL-ROOT graph (operators/components.py — O(log² n) rounds,
         nodes = local regions, orders of magnitude smaller than pixels);
      4. final label = component of the local root (roots untouched by
         any border edge keep themselves), then one map-side-combinable
         groupBy for count/bbox/sum.

    At 100 TB the pixel rows never shuffle more than once (stage-1 tile
    grouping); everything after operates on region-granular rows.
    """
    return _region_agg(
        label_regions(pixels_df, cfg, px, threshold, tile_col, value_col)
    )


def _region_agg(labeled: DataFrame) -> DataFrame:
    return labeled.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.min("gx").alias("gx0"), F.min("gy").alias("gy0"),
        F.max("gx").alias("gx1"), F.max("gy").alias("gy1"),
        F.sum("v").alias("v_sum"),
    )


def polygonize_boxes(
    boxes_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    threshold: int = 1,
) -> DataFrame:
    """Fused ``rasterize_counts`` → ``polygonize_regions`` (r6): same
    output as ``polygonize_regions(rasterize_counts(boxes_df, cfg, px),
    cfg, px, threshold)``, one fewer exchange + Python stage — see
    label_regions_boxes for the fusion argument."""
    return _region_agg(label_regions_boxes(boxes_df, cfg, px, threshold))


def region_shape_stats(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    threshold: int = 1,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Shape descriptors per 4-connected raster region (the
    scikit-image ``regionprops`` core, integer-exact): pixel count,
    rasterized PERIMETER (unit-square union boundary: 4*n minus 2 per
    interior shared edge), exact centroid numerators sgx/sgy (centroid
    = (sgx/n, sgy/n) — kept as integer sums so the row hash-gates), and
    the bbox. Compactness (perimeter^2 / n, the isoperimetric ratio) is
    one arithmetic step away from these columns.

    Shared edges are counted with ONE self-join of the labeled pixels
    on the (+1, 0)/(0, +1) shifted keys — maximal 4-connected regions
    mean every adjacent lit pair is same-region by construction, so the
    pair needs no label check. Scale shape: label_regions' two-level
    CC, one pixel self-join, one region-key groupBy.

    → (region_id, n_px, perim, sgx, sgy, gx0, gy0, gx1, gy1)."""
    lab = label_regions(pixels_df, cfg, px, threshold, tile_col, value_col)
    return _shape_from_labeled(lab)


def region_shape_stats_boxes(
    boxes_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    threshold: int = 1,
) -> DataFrame:
    """Fused ``rasterize_counts`` → ``region_shape_stats`` (r6): same
    output as the two-stage chain, one fewer exchange + Python stage —
    see label_regions_boxes for the fusion argument."""
    return _shape_from_labeled(label_regions_boxes(boxes_df, cfg, px, threshold))


def _shape_from_labeled(lab: DataFrame) -> DataFrame:
    lab = lab.localCheckpoint(eager=False)
    base = lab.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum("gx").alias("sgx"), F.sum("gy").alias("sgy"),
        F.min("gx").alias("gx0"), F.min("gy").alias("gy0"),
        F.max("gx").alias("gx1"), F.max("gy").alias("gy1"),
    )
    here = lab.select("gx", "gy", "region_id")
    # each lit pixel offers itself to its west and north neighbor
    # positions; an equi-join hit IS a shared edge (one per pair)
    nbr = lab.select((F.col("gx") - 1).alias("gx"), "gy").unionAll(
        lab.select("gx", (F.col("gy") - 1).alias("gy")))
    shared = (
        here.join(nbr, ["gx", "gy"])
        .groupBy("region_id")
        .agg(F.count(F.lit(1)).alias("_adj"))
    )
    return base.join(shared, ["region_id"], "left").select(
        "region_id", "n_px",
        (F.lit(4) * F.col("n_px")
         - F.lit(2) * F.coalesce(F.col("_adj"), F.lit(0)))
        .cast("long").alias("perim"),
        "sgx", "sgy", "gx0", "gy0", "gx1", "gy1",
    )


_ALGEBRA_OPS = ("add", "subtract", "multiply", "min", "max")


def raster_algebra(
    a_df: DataFrame,
    b_df: DataFrame,
    op: str = "subtract",
    value_col: str = "cnt",
    keep_zero: bool = False,
) -> DataFrame:
    """Map algebra over two sparse raster layers (GDAL ``gdal_calc`` /
    Map Algebra local operation): align two (tile, r, c, value) layers on
    the pixel lattice and combine per pixel — absent pixels read as 0.

    → (tile, r, c, v) with v = a OP b; zero results are dropped unless
    ``keep_zero`` (keeps the sparse-raster invariant: rows are lit
    pixels). All ops are integer-exact (long arithmetic), so the result
    is oracle-gateable bit-for-bit.

    Scale shape: ONE co-partitioned full-outer shuffle join on the pixel
    key (tile, r, c) — both sides hash to the same partitioning, no
    replication, map-side combine nowhere needed since keys are unique
    per layer. Composes with rasterize_counts / pyramid_level_values /
    polygonize_regions (e.g. change detection: subtract two epochs, then
    polygonize the nonzero difference regions).
    """
    if op not in _ALGEBRA_OPS:
        raise ValueError(f"op must be one of {_ALGEBRA_OPS}, got {op!r}")
    key = ["tile", "r", "c"]
    a = a_df.select(*key, F.col(value_col).cast("long").alias("_a"))
    b = b_df.select(*key, F.col(value_col).cast("long").alias("_b"))
    j = a.join(b, on=key, how="full_outer").select(
        *key,
        F.coalesce("_a", F.lit(0)).alias("_a"),
        F.coalesce("_b", F.lit(0)).alias("_b"),
    )
    va, vb = F.col("_a"), F.col("_b")
    v = {
        "add": va + vb,
        "subtract": va - vb,
        "multiply": va * vb,
        "min": F.least(va, vb),
        "max": F.greatest(va, vb),
    }[op]
    out = j.select(*key, v.cast("long").alias("v"))
    return out if keep_zero else out.where(F.col("v") != 0)


def zonal_histogram(
    tiles_df: DataFrame,
    polys_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    n_bins: int = 8,
    raster_id: str = "image_id",
    poly_id: str = "poly_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Zonal histogram (GRASS ``r.stats`` / QGIS "zonal histogram"): the
    distribution of decoded pixel values per zone — ``n_bins`` equal
    uint8 buckets (bin = value * n_bins // 256) counted over all channel
    samples of the pixels whose CENTER lies in the zone (same inclusive
    half-plane convention as zonal_stats).

    → (poly_id, bin, n_samples). Same decode-once plan as zonal_stats —
    the kernel emits at most ``n_bins`` partial rows per (tile, zone)
    (np.bincount over the masked samples), and the final
    groupBy(poly_id, bin) combines map-side; integer counts make the
    result exactly oracle-gateable.
    """
    import numpy as np
    import pandas as pd

    from python_prtree_spark.functions.codec import decode_image

    if not 1 <= int(n_bins) <= 256:
        raise ValueError(f"n_bins must be in [1, 256], got {n_bins}")
    n_bins = int(n_bins)
    src, ptype = _zonal_source(
        tiles_df, polys_df, cfg, raster_id, poly_id, bytes_col
    )

    def gen(batches):
        for pdf in batches:
            pids, bins, counts = [], [], []
            for zs, data, x0, y0, x1, y1 in zip(
                pdf["_zones"], pdf[bytes_col],
                pdf["xmin"], pdf["ymin"], pdf["xmax"], pdf["ymax"],
            ):
                px = decode_image(bytes(data))
                h, w = px.shape[:2]
                xc = x0 + (np.arange(w) + 0.5) * ((x1 - x0) / w)
                yc = y0 + (np.arange(h) + 0.5) * ((y1 - y0) / h)
                X, Y = xc[None, :], yc[:, None]
                for z in zs:
                    ring = z["ring"]
                    nv = len(ring)
                    mask = np.ones((h, w), dtype=bool)
                    for i in range(nv):
                        v, u = ring[i], ring[(i + 1) % nv]
                        crossp = (u["x"] - v["x"]) * (Y - v["y"]) \
                            - (u["y"] - v["y"]) * (X - v["x"])
                        mask &= crossp >= 0
                        if not mask.any():
                            break
                    if not mask.any():
                        continue
                    vals = px[mask].ravel().astype(np.int64)
                    hist = np.bincount(vals * n_bins // 256, minlength=n_bins)
                    nz = np.nonzero(hist)[0]
                    pids.extend([z["pid"]] * len(nz))
                    bins.extend(nz.tolist())
                    counts.extend(hist[nz].tolist())
            yield pd.DataFrame({
                "pid": pids,
                "bin": pd.Series(bins, dtype="int32"),
                "n": pd.Series(counts, dtype="int64"),
            })

    partials = src.mapInPandas(gen, schema=f"pid {ptype}, bin int, n long")
    return (
        partials.groupBy(F.col("pid").alias(poly_id), "bin")
        .agg(F.sum("n").alias("n_samples"))
    )


_FOCAL_OPS = ("sum", "max", "count")


SOBEL_X = [[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]]
SOBEL_Y = [[-1, -2, -1], [0, 0, 0], [1, 2, 1]]


def _d8_octant(gx, gy):
    """Half-open 45-degree sector index of the gradient vector: octant k
    iff atan2(gy, gx) in [k*45, (k+1)*45) degrees — pure integer sign /
    magnitude comparisons (no trig), a complete partition of every
    (gx, gy) != (0, 0). The same CASE chain, in the same order, is the
    oracle's definition."""
    return (
        F.when((gx > 0) & (gy >= 0) & (gy < gx), 0)
        .when((gx > 0) & (gy >= gx), 1)
        .when((gx <= 0) & (gy > 0) & (-gx < gy), 2)
        .when((gx < 0) & (gy > 0) & (-gx >= gy), 3)
        .when((gx < 0) & (gy <= 0) & (-gy < -gx), 4)
        .when((gx < 0) & (gy < 0) & (-gy >= -gx), 5)
        .when((gx >= 0) & (gy < 0) & (gx < -gy), 6)
        .otherwise(7)
        .cast("int")
    )


def slope_d8(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Terrain-analysis pair over a sparse value raster (gdaldem slope +
    a D8-style aspect classification, integer-exact): Sobel gradients in
    x and y, then per pixel the squared gradient magnitude slope2 =
    gx² + gy² (monotone in true slope — no sqrt, stays in exact longs)
    and the gradient's 45-degree sector ``d8`` in [0, 8) (_d8_octant).
    Pixels with zero gradient in both axes are absent (flat or empty —
    the sparse-raster invariant).

    → (tile, r, c, gx, gy, slope2, d8).

    Scale shape: two sparse convolution fan-outs (each: bounded ≤9×
    explode + one global-pixel groupBy) and ONE co-partitioned full-outer
    join aligning the two gradient layers — the raster_algebra pattern.
    Composes: slope2 threshold → polygonize = steep-area extraction.
    """
    gx = raster_convolve(pixels_df, SOBEL_X, cfg, px=px,
                         tile_col=tile_col, value_col=value_col)
    gy = raster_convolve(pixels_df, SOBEL_Y, cfg, px=px,
                         tile_col=tile_col, value_col=value_col)
    key = ["tile", "r", "c"]
    j = (
        gx.select(*key, F.col("v").alias("_gx"))
        .join(gy.select(*key, F.col("v").alias("_gy")), on=key, how="full_outer")
        .select(
            *key,
            F.coalesce("_gx", F.lit(0).cast("long")).alias("_gx"),
            F.coalesce("_gy", F.lit(0).cast("long")).alias("_gy"),
        )
    )
    cgx, cgy = F.col("_gx"), F.col("_gy")
    return j.select(
        *key,
        cgx.alias("gx"), cgy.alias("gy"),
        (cgx * cgx + cgy * cgy).cast("long").alias("slope2"),
        _d8_octant(cgx, cgy).alias("d8"),
    )


def contour_cases(
    pixels_df: DataFrame,
    threshold: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Marching-squares case extraction over the sparse value raster —
    the contour / isoline primitive (matplotlib contour, GDAL
    gdal_contour run this per 2x2 corner window): for every 2x2 window of
    pixel CORNERS, the 4-bit case index of "corner >= threshold"
    (bit 0 = top-left (wx, wy), bit 1 = (wx+1, wy), bit 2 = (wx, wy+1),
    bit 3 = (wx+1, wy+1); absent sparse pixels read 0, i.e. below any
    positive threshold). Windows with case 0 (all below) or 15 (all
    above) carry no contour segment and are dropped — the output is
    exactly the window set a marching-squares tracer visits.

    → (wx, wy, mcase): global window coordinates (top-left corner pixel)
    and the case index in [1, 14].

    Scale shape: the focal/convolve discipline — each lit >=threshold
    pixel fans out to its <=4 covering windows as a pure column explode
    (the shuffle IS the halo exchange), ONE global-window groupBy with a
    map-side-combined bit sum. Integer-exact, oracle-gateable.
    Composes: contour_cases(slope_d8().slope2 ...) = terrain isolines.
    """
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    side = 1 << cfg.level
    grid = side * px
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("_gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("_gy"),
    ).where(F.col(value_col) >= threshold)
    # pixel (gx, gy) is corner (gx-wx, gy-wy) of window (wx, wy): bit
    # weight 1 << ((gx-wx) + 2*(gy-wy)) for wx in {gx-1, gx}, wy likewise
    taps = [
        F.struct(
            F.lit(-dx).alias("ox"), F.lit(-dy).alias("oy"),
            F.lit(1 << (dx + 2 * dy)).alias("w"),
        )
        for dx in (0, 1) for dy in (0, 1)
    ]
    fan = src.select(
        "_gx", "_gy", F.explode(F.array(*taps)).alias("_t")
    ).select(
        (F.col("_gx") + F.col("_t.ox")).alias("wx"),
        (F.col("_gy") + F.col("_t.oy")).alias("wy"),
        F.col("_t.w").alias("_w"),
    ).where(
        (F.col("wx") >= 0) & (F.col("wx") < grid - 1)
        & (F.col("wy") >= 0) & (F.col("wy") < grid - 1)
    )
    return (
        fan.groupBy("wx", "wy").agg(F.sum("_w").cast("int").alias("mcase"))
        .where((F.col("mcase") >= 1) & (F.col("mcase") <= 14))
        .select("wx", "wy", "mcase")
    )


def zonal_majority(
    tiles_df: DataFrame,
    polys_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    raster_id: str = "image_id",
    poly_id: str = "poly_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Zonal majority (QGIS "zonal statistics: majority" / ArcGIS
    MajorityFilter's zonal form): the modal decoded uint8 value per zone,
    smallest value on ties — the standard reclassified-landcover "which
    class dominates this polygon" query.

    → (poly_id, majority_value, n_majority). Pure composition: the
    zonal_histogram kernel at n_bins=256 (bin == value, so no bucketing
    approximation) plus one window rank over the <=256 histogram rows per
    zone — deterministic (count desc, value asc), engine-independent. The
    extra shuffle moves at most 256 rows per zone; the pixel-granular
    work is the same decode-once single pass zonal_stats runs.
    """
    from pyspark.sql import Window

    h = zonal_histogram(
        tiles_df, polys_df, cfg, n_bins=256,
        raster_id=raster_id, poly_id=poly_id, bytes_col=bytes_col,
    )
    w = Window.partitionBy(poly_id).orderBy(
        F.col("n_samples").desc(), F.col("bin").asc()
    )
    return (
        h.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            poly_id,
            F.col("bin").cast("int").alias("majority_value"),
            F.col("n_samples").cast("long").alias("n_majority"),
        )
    )


def focal_stats(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    op: str = "sum",
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Focal (neighborhood) raster statistics — GRASS ``r.neighbors`` /
    ArcGIS Focal Statistics, 3×3 Moore window: for every pixel position,
    aggregate the values of the up-to-9 lit pixels in its neighborhood
    (absent pixels contribute nothing; the output covers every position
    whose window is non-empty, i.e. a one-pixel dilation of the input).

    ops: ``sum`` (box blur numerator), ``max`` (grayscale dilation),
    ``count`` (lit-neighbor count — ``count = 9`` is morphological
    EROSION membership for the binary raster). All integer-exact.

    → (tile, r, c, v) sparse rows on the same (tile, r, c) keying as
    rasterize_counts, so focal output chains straight into
    raster_algebra / polygonize_regions (blur → threshold → polygonize
    is the classic object-extraction pipeline).

    Scale shape: NO Arrow kernel and NO halo state — each lit pixel
    emits its 9 neighbor positions as rows (bounded 9× fan-out of SPARSE
    input, pure column arithmetic), then ONE groupBy on the global pixel
    key aggregates. Tile borders need no special casing: the shuffle IS
    the halo exchange. Positions falling off the mosaic edge are
    clipped."""
    if op not in _FOCAL_OPS:
        raise ValueError(f"op must be one of {_FOCAL_OPS}, got {op!r}")
    side = 1 << cfg.level
    grid = side * px
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("_gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("_gy"),
        F.col(value_col).cast("long").alias("_v"),
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    shifted = src.select(
        "_gx", "_gy", "_v", F.explode(offsets).alias("_o")
    ).select(
        (F.col("_gx") + F.col("_o.dx")).alias("gx"),
        (F.col("_gy") + F.col("_o.dy")).alias("gy"),
        "_v",
    ).where(
        (F.col("gx") >= 0) & (F.col("gx") < grid)
        & (F.col("gy") >= 0) & (F.col("gy") < grid)
    )
    agg = {
        "sum": F.sum("_v"),
        "max": F.max("_v"),
        "count": F.count(F.lit(1)),
    }[op]
    return shifted.groupBy("gx", "gy").agg(agg.alias("v")).select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        F.col("v").cast("long").alias("v"),
    )


def raster_convolve(
    pixels_df: DataFrame,
    kernel,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Sparse odd-N×N integer convolution over the tile mosaic (Sobel /
    Prewitt / Laplacian edge filters at 3×3, binomial/Gaussian blurs at
    5×5+ — the image-processing primitive, here over arbitrarily large
    tiled rasters): out[p] = Σ_{(dx,dy)} kernel[R+dy][R+dx] ·
    in[p - (dx,dy)] with R = N//2, absent pixels contributing 0 and
    mosaic edges clipped (zero padding).

    ``kernel``: odd-N×N iterable of ints, kernel[row][col] with row 0 =
    the TOPMOST neighbor (gy-R), col 0 = the LEFTMOST (gx-R). Zero taps
    are skipped at plan time — a cross-shaped kernel fans out 5×, not 9×.

    Integer weights keep every contribution exact (long arithmetic), so
    the result is oracle-gateable. Zero results are dropped (sparse-
    raster invariant — for gradient kernels, zero means "flat or empty").

    Same scale shape as focal_stats: the SPARSE fan-out is the halo
    exchange (pure column arithmetic, bounded ≤9×), ONE global-pixel-key
    groupBy combines map-side. Chains with rasterize_counts /
    raster_algebra / polygonize_regions (Sobel → threshold → polygonize
    = edge-object extraction)."""
    k = [[int(v) for v in row] for row in kernel]
    nk = len(k)
    if nk % 2 == 0 or any(len(r) != nk for r in k):
        raise ValueError("kernel must be odd-N x N")
    rad = nk // 2
    side = 1 << cfg.level
    grid = side * px
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("_gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("_gy"),
        F.col(value_col).cast("long").alias("_v"),
    )
    # input pixel at g contributes to output position g + (dx, dy) with
    # weight kernel[R - dy][R - dx] (= kernel taken relative to the OUTPUT)
    taps = [
        F.struct(
            F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
            F.lit(k[rad - dy][rad - dx]).alias("w"),
        )
        for dx in range(-rad, rad + 1) for dy in range(-rad, rad + 1)
        if k[rad - dy][rad - dx] != 0
    ]
    if not taps:
        raise ValueError("kernel is all zeros")
    shifted = src.select(
        "_gx", "_gy", "_v", F.explode(F.array(*taps)).alias("_t")
    ).select(
        (F.col("_gx") + F.col("_t.dx")).alias("gx"),
        (F.col("_gy") + F.col("_t.dy")).alias("gy"),
        (F.col("_v") * F.col("_t.w")).alias("_c"),
    ).where(
        (F.col("gx") >= 0) & (F.col("gx") < grid)
        & (F.col("gy") >= 0) & (F.col("gy") < grid)
    )
    return shifted.groupBy("gx", "gy").agg(F.sum("_c").alias("v")).where(
        F.col("v") != 0
    ).select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        F.col("v").cast("long").alias("v"),
    )


def cost_distance(
    pixels_df: DataFrame,
    sources_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    max_rounds: int = 256,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Least-accumulated-cost distance over a sparse cost surface —
    ArcGIS "Cost Distance" / GRASS ``r.cost``: for every lit cell, the
    minimum total cost of a 4-connected path from any source cell.
    Unlit cells are impassable; a hop a→b costs cost(a) + cost(b)
    (twice the classic midpoint average — monotone-equivalent and
    integer-exact; costs must be >= 1).

    pixels_df: sparse (tile, r, c, cost) rows (rasterize_counts keying);
    sources_df: (tile, r, c) rows naming the source cells (must be lit).

    → (tile, r, c, dist) for every REACHED cell; dist = 0 at sources.
    Unreachable lit cells are absent (walls of unlit cells block).

    Distributed shape — frontier Bellman-Ford (the delta-relaxation
    pattern of geo_knn's expanding rounds and components' star rounds):
    each round fans out ONLY the cells improved last round to their 4
    neighbors (the shuffle is the halo exchange, exactly like
    focal_stats), one groupBy-min combines offers, one join applies
    them; rounds proceed until no cell improves. Rounds = hop-diameter
    of the optimal-path forest; every frame is localCheckpoint-ed per
    round so lineage stays O(1). The driver loop carries no pixel data
    — only the per-round improved-count scalar."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    side = 1 << cfg.level
    grid = side * px

    def to_g(df, *extra):
        return df.select(
            ((F.col(tile_col) / side).cast("long") * px + F.col("c"))
            .alias("gx"),
            ((F.col(tile_col) % side) * px + F.col("r")).alias("gy"),
            *extra,
        )

    cells = to_g(pixels_df, F.col(value_col).cast("long").alias("cost"))
    # NULL costs would silently null-propagate into impassable walls —
    # reject them as loudly as sub-1 costs
    bad = cells.where(F.col("cost").isNull() | (F.col("cost") < 1)).count()
    if bad:
        raise ValueError(f"{bad} cells have cost < 1 or NULL (must be >= 1)")
    # duplicate source rows would multiply state rows through the join
    src = to_g(sources_df).distinct() \
        .withColumn("dist", F.lit(0).cast("long"))
    # state: every lit cell with its current best dist (null = unseen)
    state = (
        cells.join(src.select("gx", "gy", "dist"), ["gx", "gy"], "left")
        .localCheckpoint()
    )
    n_src = state.where(F.col("dist").isNotNull()).count()
    if n_src == 0:
        raise ValueError("no source cell is lit on the cost surface")
    frontier = state.where(F.col("dist").isNotNull())

    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in ((-1, 0), (1, 0), (0, -1), (0, 1))
    ])
    # max_rounds bounds RELAXATION rounds; the +1 allows the final
    # improved==0 confirmation round, so a path forest of hop-diameter
    # exactly max_rounds still converges instead of raising
    for _ in range(max_rounds + 1):
        offers = (
            frontier.select(
                "gx", "gy", (F.col("dist") + F.col("cost")).alias("_out"),
                F.explode(offsets).alias("_o"),
            )
            .select(
                (F.col("gx") + F.col("_o.dx")).alias("gx"),
                (F.col("gy") + F.col("_o.dy")).alias("gy"),
                "_out",
            )
            .where(
                (F.col("gx") >= 0) & (F.col("gx") < grid)
                & (F.col("gy") >= 0) & (F.col("gy") < grid)
            )
            .groupBy("gx", "gy")
            .agg(F.min("_out").alias("_in"))
        )
        nxt = (
            state.join(offers, ["gx", "gy"], "left")
            .select(
                "gx", "gy", "cost",
                F.when(
                    F.col("_in").isNotNull()
                    & (
                        F.col("dist").isNull()
                        | (F.col("_in") + F.col("cost") < F.col("dist"))
                    ),
                    F.col("_in") + F.col("cost"),
                ).otherwise(F.col("dist")).alias("dist"),
                (
                    F.col("_in").isNotNull()
                    & (
                        F.col("dist").isNull()
                        | (F.col("_in") + F.col("cost") < F.col("dist"))
                    )
                ).alias("_improved"),
            )
            .localCheckpoint()
        )
        improved = nxt.where(F.col("_improved")).count()
        state = nxt.drop("_improved")
        if improved == 0:
            break
        frontier = nxt.where(F.col("_improved")).drop("_improved")
    else:
        raise RuntimeError(
            f"cost_distance did not converge in {max_rounds} relaxation "
            f"rounds; raise max_rounds (optimal-path hop diameter "
            f"exceeds it)")
    return state.where(F.col("dist").isNotNull()).select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        F.col("dist").cast("long").alias("dist"),
    )


def viewshed_los(
    pixels_df: DataFrame,
    observer: tuple[int, int, int],
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    max_radius: int | None = None,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Line-of-sight viewshed along the 8 principal rays from an
    observer cell (the r.horizon / ArcGIS-viewshed family restricted to
    axis+diagonal rays, where visibility is EXACT on the cell lattice):
    a cell on a ray is visible iff its elevation angle from the observer
    strictly exceeds the running maximum angle of every nearer cell on
    the same ray — the classic horizon-scan recurrence.

    pixels_df: sparse (tile, r, c, value) lit cells, value = elevation;
    observer: (tile, r, c) of the observer cell (must be lit — its
    elevation anchors the angles); unlit cells on a ray simply do not
    occlude (sparse-raster convention). ``max_radius`` optionally caps
    the chebyshev distance.

    Fixed point: angle ordering uses slope_q = floor(1e6·Δelev / d)
    with integer Δelev and d = chebyshev step count — the double
    division is exact enough that floor is engine-independent (the
    quotient sits on a 1/d lattice, d ≤ grid ≪ 2⁴⁴ below double ulp),
    so comparisons hash-gate.

    Distributed shape: one filter keeps only on-ray cells (≤ 8·grid of
    them — rays are O(grid side), task-sized by construction), one
    8-partition window does the prefix max per ray. The observer
    elevation is the single driver-side scalar (the tfidf precedent).

    → (tile, r, c, ray, d, slope_q, visible) for every lit on-ray cell
    with d ≥ 1."""
    side = 1 << cfg.level
    grid = side * px
    t0, r0, c0 = (int(v) for v in observer)
    gx0 = (t0 // side) * px + c0
    gy0 = (t0 % side) * px + r0
    if not (0 <= gx0 < grid and 0 <= gy0 < grid):
        raise ValueError(f"observer {observer} is outside the {grid} grid")

    cells = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("gy"),
        F.col(value_col).cast("long").alias("elev"),
    )
    e0_rows = cells.where(
        (F.col("gx") == gx0) & (F.col("gy") == gy0)).limit(2).collect()
    if not e0_rows:
        raise ValueError(f"observer cell {observer} is not lit")
    if len(e0_rows) > 1:
        raise ValueError(f"observer cell {observer} is lit more than once")
    e0 = int(e0_rows[0]["elev"])

    dx = F.col("gx") - F.lit(gx0)
    dy = F.col("gy") - F.lit(gy0)
    adx, ady = F.abs(dx), F.abs(dy)
    d = F.greatest(adx, ady)
    on_ray = ((dx == 0) | (dy == 0) | (adx == ady)) & (d > 0)
    if max_radius is not None:
        if max_radius < 1:
            raise ValueError(f"max_radius must be >= 1, got {max_radius}")
        on_ray = on_ray & (d <= max_radius)
    ray = F.signum(dx).cast("int") * 3 + F.signum(dy).cast("int")
    slope_q = F.floor(
        (F.lit(1000000) * (F.col("elev") - F.lit(e0))) / d).cast("long")

    w = (
        Window.partitionBy("ray").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rays = cells.where(on_ray).select(
        "gx", "gy",
        ray.alias("ray"), d.alias("d"), slope_q.alias("slope_q"),
    )
    out = rays.select(
        "gx", "gy", "ray", "d", "slope_q",
        F.max("slope_q").over(w).alias("_hz"),
    )
    return out.select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        "ray", "d", "slope_q",
        (F.col("_hz").isNull() | (F.col("slope_q") > F.col("_hz")))
        .alias("visible"),
    )


def structuring_element(shape: str = "square", radius: int = 1) -> list:
    """Offsets of a classic structuring element: ``square`` (Chebyshev
    ball, (2r+1)² offsets) or ``diamond`` (Manhattan ball, the von
    Neumann neighborhood at r=1). Origin included, deterministic
    (dx-major) order."""
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    if shape == "square":
        keep = lambda dx, dy: True  # noqa: E731
    elif shape == "diamond":
        keep = lambda dx, dy: abs(dx) + abs(dy) <= radius  # noqa: E731
    else:
        raise ValueError(f"shape must be 'square' or 'diamond', got {shape!r}")
    return [
        (dx, dy)
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
        if keep(dx, dy)
    ]


def morphology(
    pixels_df: DataFrame,
    op: str,
    se: list | None = None,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Grayscale morphological ``dilate`` / ``erode`` over the sparse
    tile mosaic with an arbitrary structuring element (the
    scipy.ndimage.grey_dilation / GRASS r.grow family, generalizing
    focal_stats' 3×3 max to any SE):

    * ``dilate``: out(p) = max_{s in SE} in(p - s) over lit cells —
      output covers the SE-dilation of the lit set (any lit cell in the
      reflected SE window lights the output).
    * ``erode``:  out(p) = min_{s in SE} in(p + s), defined ONLY where
      every SE offset lands on a lit in-grid cell (zero-padding
      convention: absent and off-grid cells are holes, so partially
      supported positions are eroded away — the standard binary
      erosion membership, carrying grayscale min values).

    ``se``: iterable of (dx, dy) integer offsets (see
    structuring_element); default 3×3 square.

    open = erode → dilate, close = dilate → erode: chain two calls —
    each output is on the same (tile, r, c, v) keying as its input
    (feed the result back with value_col="v").

    Scale shape: identical to focal_stats — each lit pixel emits |SE|
    candidate positions (bounded fan-out of SPARSE input, pure column
    arithmetic), ONE groupBy on the global pixel key aggregates; the
    shuffle is the cross-tile halo exchange, no Arrow kernel, no
    per-tile state. Erosion's full-support test is a count equality in
    the same aggregate.

    → (tile, r, c, v) sparse rows."""
    if op not in ("dilate", "erode"):
        raise ValueError(f"op must be 'dilate' or 'erode', got {op!r}")
    se = structuring_element() if se is None else [
        (int(dx), int(dy)) for dx, dy in se
    ]
    if not se or len(set(se)) != len(se):
        raise ValueError("se must be a non-empty list of distinct offsets")
    side = 1 << cfg.level
    grid = side * px
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("_gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("_gy"),
        F.col(value_col).cast("long").alias("_v"),
    )
    # dilate reads in(p - s): a lit cell q supports position p = q + s;
    # erode reads in(p + s): q supports p = q - s.
    sgn = 1 if op == "dilate" else -1
    offsets = F.array(*[
        F.struct(F.lit(sgn * dx).alias("dx"), F.lit(sgn * dy).alias("dy"))
        for dx, dy in se
    ])
    cand = src.select(
        "_v", F.explode(offsets).alias("_o"),
        (F.col("_gx") + F.col("_o.dx")).alias("gx"),
        (F.col("_gy") + F.col("_o.dy")).alias("gy"),
    ).where(
        (F.col("gx") >= 0) & (F.col("gx") < grid)
        & (F.col("gy") >= 0) & (F.col("gy") < grid)
    )
    agg = cand.groupBy("gx", "gy").agg(
        F.max("_v").alias("_mx"),
        F.min("_v").alias("_mn"),
        F.count(F.lit(1)).alias("_n"),
    )
    if op == "erode":
        agg = agg.where(F.col("_n") == len(se))
    v = F.col("_mx") if op == "dilate" else F.col("_mn")
    return agg.select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        v.cast("long").alias("v"),
    )


# D8 neighbor table: (dx, dy, dir). Preference order (the tie-break) is
# the dir index: E, SE, S, SW, W, NW, N, NE. Steepest-descent compare is
# exact in integers: slope^2 = drop^2 / d^2 with d^2 in {1, 2}, so the
# cross-multiplied key drop^2 * (2 if cardinal else 1) orders identically.
_D8 = [
    (1, 0, 0), (1, 1, 1), (0, 1, 2), (-1, 1, 3),
    (-1, 0, 4), (-1, -1, 5), (0, -1, 6), (1, -1, 7),
]


def flow_direction_d8(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """D8 steepest-descent flow direction over a sparse integer DEM —
    GRASS ``r.watershed`` / ArcGIS Flow Direction: every lit cell drains
    to the STRICTLY LOWER lit 8-neighbor with the steepest slope
    (diagonal distance sqrt(2) honored exactly via the cross-multiplied
    integer key drop^2 * (2 cardinal | 1 diagonal); ties broken by the
    fixed E,SE,S,SW,W,NW,N,NE preference). Cells with no strictly lower
    lit neighbor are pits/outlets: dir = -1.

    Scale shape: focal-style 8x fan-out of the sparse input (each lit
    cell offers its elevation to its 8 neighbor positions — the shuffle
    is the halo exchange), one join against the cells' own elevations,
    one groupBy argmax via max-over-structs. No Arrow kernel, no
    per-tile state.

    → (tile, r, c, dir, acc_tile, acc_r, acc_c) with the target cell's
    keying alongside (nulls for pits), so accumulation / watershed
    labeling can chain without recomputing."""
    side = 1 << cfg.level
    grid = side * px
    cells = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("gy"),
        F.col(value_col).cast("long").alias("elev"),
    )
    # neighbor q at offset (dx,dy) FROM p receives q's elevation: emit
    # from q to p = q - (dx,dy) so the receiver sees (dir, nelev).
    offers = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(d).alias("dir"))
        for dx, dy, d in _D8
    ])
    nbr = cells.select(
        F.col("elev").alias("nelev"), F.explode(offers).alias("_o"),
        (F.col("gx") - F.col("_o.dx")).alias("gx"),
        (F.col("gy") - F.col("_o.dy")).alias("gy"),
    ).where(
        (F.col("gx") >= 0) & (F.col("gx") < grid)
        & (F.col("gy") >= 0) & (F.col("gy") < grid)
    ).select("gx", "gy", F.col("_o.dir").alias("dir"), "nelev")
    drop = F.col("elev") - F.col("nelev")
    cardinal = F.col("dir").isin(0, 2, 4, 6)
    key = drop * drop * F.when(cardinal, F.lit(2)).otherwise(F.lit(1))
    best = (
        cells.join(nbr, ["gx", "gy"])
        .where(F.col("nelev") < F.col("elev"))
        .groupBy("gx", "gy")
        .agg(F.max(F.struct(
            key.alias("k"), (-F.col("dir")).alias("negdir"),
        )).alias("_b"))
        .select("gx", "gy", (-F.col("_b.negdir")).alias("dir"))
    )
    dirmap_x = F.array(*[F.lit(dx) for dx, _, _ in _D8])
    dirmap_y = F.array(*[F.lit(dy) for _, dy, _ in _D8])
    out = cells.join(best, ["gx", "gy"], "left").select(
        "gx", "gy",
        F.coalesce(F.col("dir"), F.lit(-1)).cast("int").alias("dir"),
        F.when(F.col("dir").isNotNull(),
               F.col("gx") + F.element_at(dirmap_x, F.col("dir") + 1))
        .alias("tgx"),
        F.when(F.col("dir").isNotNull(),
               F.col("gy") + F.element_at(dirmap_y, F.col("dir") + 1))
        .alias("tgy"),
    )

    def keyed(xc, yc):
        return [
            ((F.col(xc) / px).cast("long") * side
             + (F.col(yc) / px).cast("long")),
            (F.col(yc) % px).cast("int"),
            (F.col(xc) % px).cast("int"),
        ]

    t, r, c = keyed("gx", "gy")
    at, ar, ac = keyed("tgx", "tgy")
    return out.select(
        t.alias("tile"), r.alias("r"), c.alias("c"), "dir",
        at.alias("acc_tile"), ar.alias("acc_r"), ac.alias("acc_c"),
    )


def flow_accumulation(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    max_rounds: int = 1024,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """D8 flow accumulation — ArcGIS Flow Accumulation / GRASS
    ``r.watershed`` upstream cell counts: acc(p) = number of lit cells
    (including p itself) whose steepest-descent D8 path passes through
    p. Directions come from flow_direction_d8 (strict descent, so the
    flow graph is an acyclic in-forest rooted at pits).

    Distributed shape — TOPOLOGICAL PEELING, not mass-waving: each
    round, exactly the cells whose every upstream neighbor has settled
    push their FINAL count one hop downstream and retire. Every edge is
    shuffled exactly once over the whole run (O(E) total volume — a
    mass-per-hop scheme would move O(n * path-length) rows); rounds =
    longest flow-path hop count, each a join + groupBy on the global
    cell key with localCheckpoint keeping lineage O(1). The driver loop
    carries only the frontier-size scalar (cost_distance precedent).

    → (tile, r, c, acc); pits carry their full catchment size."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    side = 1 << cfg.level
    dirs = flow_direction_d8(pixels_df, cfg, px, tile_col, value_col)
    state = dirs.select(
        ((F.col("tile") / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col("tile") % side) * px + F.col("r")).alias("gy"),
        F.when(F.col("dir") >= 0,
               (F.col("acc_tile") / side).cast("long") * px
               + F.col("acc_c")).alias("tgx"),
        F.when(F.col("dir") >= 0,
               (F.col("acc_tile") % side) * px + F.col("acc_r"))
        .alias("tgy"),
    )
    indeg = (
        state.where(F.col("tgx").isNotNull())
        .groupBy(F.col("tgx").alias("gx"), F.col("tgy").alias("gy"))
        .agg(F.count(F.lit(1)).alias("_w"))
    )
    state = (
        state.join(indeg, ["gx", "gy"], "left")
        .select(
            "gx", "gy", "tgx", "tgy",
            F.coalesce(F.col("_w"), F.lit(0)).cast("long").alias("wait"),
            F.lit(1).cast("long").alias("acc"),
            F.lit(False).alias("settled"),
        )
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        frontier = state.where(~F.col("settled") & (F.col("wait") == 0))
        if frontier.limit(1).count() == 0:
            break
        pushes = (
            frontier.where(F.col("tgx").isNotNull())
            .groupBy(F.col("tgx").alias("gx"), F.col("tgy").alias("gy"))
            .agg(F.sum("acc").alias("_m"), F.count(F.lit(1)).alias("_c"))
        )
        state = (
            state.join(pushes, ["gx", "gy"], "left")
            .select(
                "gx", "gy", "tgx", "tgy",
                (F.col("wait") - F.coalesce(F.col("_c"), F.lit(0)))
                .alias("wait"),
                (F.col("acc") + F.coalesce(F.col("_m"), F.lit(0)))
                .alias("acc"),
                (F.col("settled") | (F.col("wait") == 0)).alias("settled"),
            )
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"flow_accumulation did not converge in {max_rounds} rounds; "
            f"raise max_rounds (longest flow path exceeds it)")
    return state.select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        F.col("acc").cast("long").alias("acc"),
    )


def watershed_basins(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    max_rounds: int = 64,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Watershed delineation over a sparse integer DEM — GRASS
    ``r.watershed`` basins / ArcGIS Basin: label every lit cell with the
    pit/outlet its D8 steepest-descent path terminates at (directions
    and tie-breaks exactly as flow_direction_d8; each basin is one pit's
    catchment).

    Distributed shape — POINTER DOUBLING (the large/small-star idea of
    components.py applied to a functional graph): every cell keeps a
    pointer that starts at its D8 target (pits point at themselves) and
    each round jumps ptr <- ptr(ptr) via ONE self-join on the global
    cell key, so after t rounds each pointer has skipped 2^t hops.
    Rounds = ceil(log2(longest flow path)) — at a 100 TB grid with
    million-hop river paths that is ~20 rounds, where per-hop peeling
    (flow_accumulation's shape, right for O(E)-volume counting) would
    need a million. localCheckpoint per round keeps lineage O(1); the
    driver carries only the changed-count scalar.

    → (tile, r, c, basin) with basin = the pit's global cell key
    gy * (side * px) + gx — stable, join-able, decodable."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    side = 1 << cfg.level
    grid = side * px
    dirs = flow_direction_d8(pixels_df, cfg, px, tile_col, value_col)
    state = dirs.select(
        ((F.col("tile") / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col("tile") % side) * px + F.col("r")).alias("gy"),
        F.when(F.col("dir") >= 0,
               (F.col("acc_tile") / side).cast("long") * px + F.col("acc_c"))
        .otherwise(
            (F.col("tile") / side).cast("long") * px + F.col("c"))
        .alias("pgx"),
        F.when(F.col("dir") >= 0,
               (F.col("acc_tile") % side) * px + F.col("acc_r"))
        .otherwise((F.col("tile") % side) * px + F.col("r")).alias("pgy"),
    ).localCheckpoint()
    for _ in range(max_rounds):
        hop = state.select(
            F.col("gx").alias("pgx"), F.col("gy").alias("pgy"),
            F.col("pgx").alias("ppgx"), F.col("pgy").alias("ppgy"),
        )
        nxt = (
            state.join(hop, ["pgx", "pgy"])
            .select(
                "gx", "gy",
                F.col("ppgx").alias("pgx"), F.col("ppgy").alias("pgy"),
                ((F.col("ppgx") != F.col("pgx"))
                 | (F.col("ppgy") != F.col("pgy"))).alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = nxt.where(F.col("_chg")).count()
        state = nxt.drop("_chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"watershed_basins did not converge in {max_rounds} doubling "
            f"rounds; raise max_rounds (longest flow path exceeds "
            f"2^{max_rounds})")
    return state.select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        (F.col("pgy") * grid + F.col("pgx")).cast("long").alias("basin"),
    )


def hough_table(n_theta: int = 16, q: int = 4096) -> list:
    """Fixed-point Hough angle table: (k, cos_q, sin_q) for theta_k =
    k*pi/n_theta, k in [0, n_theta), with cos_q = round(q*cos) —
    computed ONCE driver-side so Spark and any SQL twin share the exact
    same integer taps (the shared-literal determinism pattern)."""
    import math

    if n_theta < 2:
        raise ValueError(f"n_theta must be >= 2, got {n_theta}")
    return [
        (k,
         int(round(q * math.cos(math.pi * k / n_theta))),
         int(round(q * math.sin(math.pi * k / n_theta))))
        for k in range(n_theta)
    ]


def hough_lines(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    n_theta: int = 16,
    rho_bin: int = 1,
    min_votes: int = 2,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Hough line transform over the sparse tile mosaic — the classic
    straight-line detector (OpenCV HoughLines family): every lit pixel
    votes for each of ``n_theta`` quantized line angles, the (angle,
    offset) accumulator bins the votes, and bins with >= min_votes
    survive. Line parametrization rho = x*cos(theta) + y*sin(theta)
    in Q12 fixed point (hough_table): rho_q = floor((x*cos_q + y*sin_q)
    / (4096 * rho_bin)) — all-integer dividend and a power-of-two
    divisor make the floor engine-exact, so the accumulator hash-gates.

    ``rho_bin`` must be a power of two (the dyadic-exactness guard);
    votes are pixel counts, ``wsum`` additionally carries the summed
    pixel values (weighted Hough).

    Scale shape: bounded n_theta-x fan-out of the SPARSE input (pure
    column arithmetic, no UDF), ONE groupBy on (theta_k, rho_q) — the
    same focal discipline; the accumulator is tiny (n_theta * diag/
    rho_bin bins) regardless of raster size, so the reduce side never
    skews.

    → (theta_k, rho_q, votes, wsum) ordered-free sparse accumulator."""
    if rho_bin < 1 or (rho_bin & (rho_bin - 1)) != 0:
        raise ValueError(f"rho_bin must be a power of two, got {rho_bin}")
    if min_votes < 1:
        raise ValueError(f"min_votes must be >= 1, got {min_votes}")
    side = 1 << cfg.level
    taps = hough_table(n_theta)
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("gy"),
        F.col(value_col).cast("long").alias("v"),
    )
    arr = F.array(*[
        F.struct(F.lit(k).alias("k"), F.lit(c).alias("cq"),
                 F.lit(s).alias("sq"))
        for k, c, s in taps
    ])
    div = F.lit(4096 * rho_bin)
    votes = (
        src.select("gx", "gy", "v", F.explode(arr).alias("_t"))
        .select(
            F.col("_t.k").alias("theta_k"),
            F.floor(
                (F.col("gx") * F.col("_t.cq") + F.col("gy") * F.col("_t.sq"))
                / div
            ).cast("long").alias("rho_q"),
            "v",
        )
        .groupBy("theta_k", "rho_q")
        .agg(
            F.count(F.lit(1)).alias("votes"),
            F.sum("v").alias("wsum"),
        )
        .where(F.col("votes") >= min_votes)
    )
    return votes.select(
        F.col("theta_k").cast("int").alias("theta_k"),
        "rho_q",
        F.col("votes").cast("long").alias("votes"),
        F.col("wsum").cast("long").alias("wsum"),
    )


def glcm(
    pixels_df: DataFrame,
    offset: tuple[int, int] = (1, 0),
    symmetric: bool = True,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Gray-level co-occurrence matrix over the sparse tile mosaic —
    the Haralick texture primitive (scikit-image ``graycomatrix``):
    count the (value-at-p, value-at-p+offset) pairs over all positions
    where BOTH cells are lit. ``symmetric=True`` (the Haralick
    convention) also counts the reversed pair, so the matrix is
    symmetric and offset sign does not matter. Entropy / contrast /
    homogeneity are one aggregation away from this output.

    Quantization is the caller's job (chain raster_algebra) — glcm
    counts raw integer values, so the result is exact.

    Scale shape: ONE equi-join of the sparse raster with itself on the
    offset-shifted global pixel key (co-partitioned hash join — the
    shuffle is the halo exchange, across tile borders for free), then
    one groupBy on the (va, vb) pair key. The matrix has at most
    levels^2 rows regardless of raster size, so the reduce side is
    tiny.

    → (va, vb, n)."""
    dx, dy = (int(v) for v in offset)
    if (dx, dy) == (0, 0):
        raise ValueError("offset must be non-zero")
    side = 1 << cfg.level
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("gy"),
        F.col(value_col).cast("long").alias("v"),
    )
    right = src.select(
        (F.col("gx") - F.lit(dx)).alias("gx"),
        (F.col("gy") - F.lit(dy)).alias("gy"),
        F.col("v").alias("vb"),
    )
    pairs = src.join(right, ["gx", "gy"]).select(
        F.col("v").alias("va"), "vb",
    )
    if symmetric:
        pairs = pairs.unionAll(
            pairs.select(F.col("vb").alias("va"), F.col("va").alias("vb")))
    return pairs.groupBy("va", "vb").agg(
        F.count(F.lit(1)).cast("long").alias("n"))


def hog_blocks(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    block: int = 32,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Histogram of oriented gradients, block-pooled (the HOG descriptor
    of Dalal-Triggs, integer-exact over the tile mosaic): Sobel
    gradients and 45-degree orientation sectors from slope_d8, then per
    ``block`` x ``block`` pixel window the per-sector pixel count and
    gradient energy (sum of squared magnitudes — the no-sqrt exact
    stand-in for HOG's magnitude weighting).

    Scale shape: slope_d8's two bounded convolution fan-outs + one
    align join, then ONE groupBy on the (block, sector) key — at most
    (grid/block)^2 * 8 output rows regardless of raster size. Blocks
    deliberately need no tile alignment: the global-pixel key makes
    cross-tile blocks exact for free.

    → (bx, by, d8, n, energy)."""
    if block < 1:
        raise ValueError(f"block must be >= 1, got {block}")
    side = 1 << cfg.level
    s = slope_d8(pixels_df, cfg, px, tile_col=tile_col, value_col=value_col)
    gxp = (F.col("tile") / side).cast("long") * px + F.col("c")
    gyp = (F.col("tile") % side) * px + F.col("r")
    return (
        s.select(
            (gxp / block).cast("long").alias("bx"),
            (gyp / block).cast("long").alias("by"),
            "d8", "slope2",
        )
        .groupBy("bx", "by", "d8")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("slope2").cast("long").alias("energy"),
        )
    )


def harris_corners(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    threshold: int = 0,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Harris corner detector over the sparse tile mosaic, integer-
    exact (the OpenCV cornerHarris recipe with k = 1/16 and a box
    window): Sobel gradients Ix, Iy (slope_d8's layers), structure-
    tensor sums Sxx/Syy/Sxy over the 3x3 box, response scaled by 16 so
    it stays in longs — r16 = 16*(Sxx*Syy - Sxy^2) - (Sxx+Syy)^2 —
    and a corner flag marking cells that are >= every 3x3 neighbor's
    response (local maximum, ties kept) and > ``threshold``.

    Scale shape: slope_d8's bounded fan-outs, then ONE 9x halo fan-out
    carrying the (xx, yy, xy) product struct (not three separate focal
    passes), one groupBy for the tensor sums, one more fan-out +
    groupBy-max + join for non-max suppression. Everything stays in
    whole-stage-codegen column arithmetic.

    → (tile, r, c, r16, corner)."""
    side = 1 << cfg.level
    grid = side * px
    s = slope_d8(pixels_df, cfg, px, tile_col=tile_col, value_col=value_col)
    prods = s.select(
        ((F.col("tile") / side).cast("long") * px + F.col("c")).alias("_gx"),
        ((F.col("tile") % side) * px + F.col("r")).alias("_gy"),
        (F.col("gx") * F.col("gx")).alias("_xx"),
        (F.col("gy") * F.col("gy")).alias("_yy"),
        (F.col("gx") * F.col("gy")).alias("_xy"),
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])

    def halo(df, *cols):
        return df.select(
            *cols, F.explode(offsets).alias("_o"),
            (F.col("_gx") + F.col("_o.dx")).alias("gx"),
            (F.col("_gy") + F.col("_o.dy")).alias("gy"),
        ).where(
            (F.col("gx") >= 0) & (F.col("gx") < grid)
            & (F.col("gy") >= 0) & (F.col("gy") < grid)
        )

    sums = halo(prods, "_xx", "_yy", "_xy").groupBy("gx", "gy").agg(
        F.sum("_xx").alias("sxx"),
        F.sum("_yy").alias("syy"),
        F.sum("_xy").alias("sxy"),
    )
    det = F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy")
    tr = F.col("sxx") + F.col("syy")
    resp = sums.select(
        "gx", "gy",
        (F.lit(16) * det - tr * tr).cast("long").alias("r16"),
    )
    nmax = (
        halo(resp.select(F.col("gx").alias("_gx"), F.col("gy").alias("_gy"),
                         "r16"), "r16")
        .groupBy("gx", "gy").agg(F.max("r16").alias("_mx"))
    )
    return resp.join(nmax, ["gx", "gy"]).select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        "r16",
        ((F.col("r16") >= F.col("_mx"))
         & (F.col("r16") > F.lit(int(threshold)))).alias("corner"),
    )


def variogram(
    pixels_df: DataFrame,
    lags: list | None = None,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Empirical (directional) semivariogram over a sparse integer
    raster — the geostatistics primitive behind kriging (Matheron's
    estimator): for each lag vector h, the pair count and the exact
    integer sum of squared increments sse = sum over pairs of
    (z(p) - z(p+h))^2; the semivariance gamma(h) = sse / (2*n) is one
    division away (kept as integers so the row hash-gates).

    ``lags``: list of (dx, dy) lag vectors (default the 4 unit +
    diagonal lags). Only positions where BOTH cells are lit contribute
    (sparse convention, matching gstat's na handling).

    Scale shape: ONE |lags|-x fan-out of the sparse input, ONE
    equi-join on the global pixel key (the shuffle is the halo
    exchange), ONE groupBy on the tiny lag key — the GLCM plan with a
    squared-difference payload.

    → (dx, dy, n, sse)."""
    lags = [(1, 0), (0, 1), (1, 1), (1, -1)] if lags is None else [
        (int(dx), int(dy)) for dx, dy in lags
    ]
    if not lags or len(set(lags)) != len(lags) or (0, 0) in lags:
        raise ValueError("lags must be distinct non-zero offsets")
    side = 1 << cfg.level
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("gy"),
        F.col(value_col).cast("long").alias("v"),
    )
    arr = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in lags
    ])
    # the cell at p + h offers its value back to p, tagged with the lag
    offers = src.select(
        F.col("v").alias("vb"), F.explode(arr).alias("_l"),
        (F.col("gx") - F.col("_l.dx")).alias("gx"),
        (F.col("gy") - F.col("_l.dy")).alias("gy"),
    ).select("gx", "gy", F.col("_l.dx").alias("dx"),
             F.col("_l.dy").alias("dy"), "vb")
    d = F.col("v") - F.col("vb")
    return (
        src.join(offers, ["gx", "gy"])
        .groupBy("dx", "dy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(d * d).cast("long").alias("sse"),
        )
        .select(
            F.col("dx").cast("int").alias("dx"),
            F.col("dy").cast("int").alias("dy"),
            "n", "sse",
        )
    )


def otsu_threshold(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Otsu's automatic threshold over a sparse integer raster — the
    classic histogram bimodality split (OpenCV THRESH_OTSU): choose the
    threshold t (among observed values) maximizing the between-class
    variance of {v <= t} vs {v > t}, with EXACT arithmetic: sigma_b^2
    is proportional to (s0*n - s*n0)^2 / (n0*(n - n0)), compared as
    rational numbers (python Fractions driver-side), ties to the
    smallest t — no float ever enters the decision.

    Scale shape: ONE groupBy on the pixel VALUE — the histogram has at
    most gray-depth rows regardless of raster size, so collecting it to
    the driver is the tfidf driver-side-scalar precedent, not a
    collect() smell. Chain the returned threshold into raster_algebra
    to binarize.

    → single row (threshold, n_below, n_above, s_below, s_above),
    exact longs."""
    from fractions import Fraction

    hist = sorted(
        (int(row["v"]), int(row["nv"]))
        for row in pixels_df.select(
            F.col(value_col).cast("long").alias("v"))
        .groupBy("v").agg(F.count(F.lit(1)).alias("nv")).collect()
    )
    if len(hist) < 2:
        raise ValueError(
            f"Otsu needs >= 2 distinct values, got {len(hist)}")
    n = sum(nv for _, nv in hist)
    s = sum(v * nv for v, nv in hist)
    best = None
    n0 = s0 = 0
    for v, nv in hist[:-1]:  # the top value leaves class 1 empty
        n0 += nv
        s0 += v * nv
        score = Fraction((s0 * n - s * n0) ** 2, n0 * (n - n0))
        if best is None or score > best[0]:
            best = (score, v, n0, s0)
    _, t, bn0, bs0 = best
    spark = pixels_df.sparkSession
    return spark.createDataFrame(
        [(t, bn0, n - bn0, bs0, s - bs0)],
        "threshold long, n_below long, n_above long, "
        "s_below long, s_above long",
    )


def canny_edges(
    pixels_df: DataFrame,
    t_low: int,
    t_high: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Canny edge detection over the sparse tile mosaic, integer-exact
    end to end (the OpenCV pipeline with squared-magnitude thresholds —
    no sqrt, no float): Sobel gradients + 45-degree sectors (slope_d8),
    non-maximum suppression along the quantized gradient direction
    (sector % 4 → the E / SE / S(up-down) / SW axis; a pixel survives
    iff slope2 >= both neighbors on that axis, absent neighbors read
    0), double threshold on slope2 (strong >= t_high > weak >= t_low),
    then HYSTERESIS: weak pixels are kept iff 8-connected to a strong
    pixel through surviving pixels (connected components over the
    survivor graph — operators/components.py, the polygonize merge).

    Distributed shape: slope_d8's bounded fan-outs; NMS is ONE 8x offer
    fan-out + a filtered groupBy-max (each pixel consumes only the two
    offers on its own axis); hysteresis edges are FOUR shifted
    equi-joins over survivors only (post-NMS, post-threshold — a small
    fraction of the raster) + the O(log^2 n) star rounds. No stage ever
    materializes a dense neighborhood.

    → (tile, r, c, slope2, strong) for every kept edge pixel; strong
    marks the >= t_high seeds."""
    if not (0 < t_low <= t_high):
        raise ValueError(
            f"need 0 < t_low <= t_high, got {t_low}, {t_high}")
    side = 1 << cfg.level
    grid = side * px
    s = slope_d8(pixels_df, cfg, px, tile_col=tile_col,
                 value_col=value_col)
    pts = s.select(
        ((F.col("tile") / side).cast("long") * px + F.col("c")).alias("x"),
        ((F.col("tile") % side) * px + F.col("r")).alias("y"),
        "slope2", (F.col("d8") % 4).alias("dc"),
    )
    # offer my slope2 to the cell at -off_j, tagged j: the receiver sees
    # "your neighbor at +off_j has slope2 s2n"
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(j).alias("j"))
        for j, (dx, dy) in enumerate(
            [(1, 0), (1, 1), (0, 1), (-1, 1),
             (-1, 0), (-1, -1), (0, -1), (1, -1)])
    ])
    offers = pts.select(
        F.col("slope2").alias("s2n"), F.explode(offs).alias("_o"),
        (F.col("x") - F.col("_o.dx")).alias("x"),
        (F.col("y") - F.col("_o.dy")).alias("y"),
        F.col("_o.j").alias("j"),
    )
    axis = offers.join(
        pts.select("x", "y", "dc"), ["x", "y"]
    ).where(
        (F.col("j") == F.col("dc")) | (F.col("j") == F.col("dc") + 4)
    ).groupBy("x", "y").agg(F.max("s2n").alias("_mx"))
    nms = (
        pts.join(axis, ["x", "y"], "left")
        .where(F.col("slope2") >= F.coalesce(F.col("_mx"), F.lit(0)))
        .where(F.col("slope2") >= t_low)
        .select("x", "y", "slope2",
                (F.col("slope2") >= t_high).alias("strong"))
        .localCheckpoint(eager=False)
    )
    key = F.col("x") * grid + F.col("y")
    nodes = nms.select(key.alias("k"), "x", "y", "strong")
    fwd = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in [(1, 0), (1, 1), (0, 1), (-1, 1)]
    ])
    cand = nodes.select(
        F.col("k").alias("ka"), F.explode(fwd).alias("_o"),
        (F.col("x") + F.col("_o.dx")).alias("x"),
        (F.col("y") + F.col("_o.dy")).alias("y"),
    ).select("ka", "x", "y")
    edges = cand.join(nodes.select("x", "y", F.col("k").alias("kb")),
                      ["x", "y"]).select("ka", "kb")

    from python_prtree_spark.operators.components import (
        connected_components,
    )

    comp = connected_components(
        edges.selectExpr("ka AS id_a", "kb AS id_b"))
    lab = nodes.join(comp, nodes["k"] == comp["node"], "left").select(
        "k", "x", "y", "strong",
        F.coalesce(F.col("component"), F.col("k")).alias("_c"),
    )
    alive = lab.groupBy("_c").agg(
        F.max(F.col("strong").cast("int")).alias("_has"))
    kept = (
        lab.join(alive, ["_c"])
        .where(F.col("_has") == 1)
        .join(nms.select("x", "y", "slope2"), ["x", "y"])
    )
    return kept.select(
        ((F.col("x") / px).cast("long") * side
         + (F.col("y") / px).cast("long")).alias("tile"),
        (F.col("y") % px).cast("int").alias("r"),
        (F.col("x") % px).cast("int").alias("c"),
        F.col("slope2").cast("long").alias("slope2"),
        "strong",
    )


def template_match_ssd(
    pixels_df: DataFrame,
    template,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Template matching by sum of squared differences (OpenCV
    matchTemplate TM_SQDIFF, integer-exact, zero-padded): for every
    output position p, ssd(p) = sum_{(i,j)} (T[i][j] - in[p+(j-R,i-R)])^2
    expanded as sum(T^2) + sum(in^2 over the window) - 2*(T (x) in),
    so the whole thing is two sparse NxN convolutions (the correlation
    term uses the double-flipped template; the window energy uses an
    all-ones kernel over squared values) plus one alignment join —
    never a dense window materialization. Exact longs throughout.

    Positions whose window holds no lit (nonzero-valued) pixel are
    absent — their ssd is the constant sum(T^2), and a zero-valued cell
    is indistinguishable from an absent one (the sparse-raster
    invariant). Lower ssd = better match; ssd = 0 is an exact hit.

    ``template``: odd-N x N integer matrix, template[row][col], row 0 =
    the window's TOPMOST row.

    → (tile, r, c, ssd)."""
    t = [[int(v) for v in row] for row in template]
    nt = len(t)
    if nt % 2 == 0 or any(len(r) != nt for r in t):
        raise ValueError("template must be odd-N x N")
    t_sq = sum(v * v for row in t for v in row)
    # raster_convolve's kernel[row][col] is indexed by the OUTPUT's
    # neighbor offset (row 0 = topmost), which is exactly the
    # correlation orientation T[i][j] — no flip needed
    ones = [[1] * nt for _ in range(nt)]
    key = ["tile", "r", "c"]
    sq = pixels_df.select(
        F.col(tile_col).alias("tile"), "r", "c",
        (F.col(value_col).cast("long")
         * F.col(value_col).cast("long")).alias("cnt"),
    )
    energy = raster_convolve(sq, ones, cfg, px=px)
    xcorr = raster_convolve(pixels_df, t, cfg, px=px,
                            tile_col=tile_col, value_col=value_col)
    j = (
        energy.select(*key, F.col("v").alias("_e"))
        .join(xcorr.select(*key, F.col("v").alias("_x")), key, "full_outer")
        .select(
            *key,
            (F.lit(t_sq) + F.coalesce("_e", F.lit(0))
             - F.lit(2) * F.coalesce("_x", F.lit(0))).alias("ssd"),
        )
    )
    return j.select(*key, F.col("ssd").cast("long").alias("ssd"))


def focal_median(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Focal 3x3 MEDIAN filter (the classic salt-and-pepper denoiser;
    GRASS ``r.neighbors method=median`` / scipy ``median_filter``) with
    zero padding: every position's window has exactly 9 logical slots,
    absent and off-grid cells reading 0, and the output value is the
    5th-smallest of those 9 — integer-exact, no interpolation (9 is
    odd). Rows whose median is 0 are dropped (sparse-raster invariant);
    for a nonnegative raster that means a position appears iff at least
    5 of its 9 slots hold a positive value, which is exactly the
    majority-vote behavior that kills isolated speckles.

    Scale shape: identical to focal_stats — bounded 9x fan-out of the
    SPARSE input (pure column arithmetic), ONE groupBy on the global
    pixel key whose shuffle IS the halo exchange. The per-position
    multiset is collect_list-bounded at 9, zero-padded with
    array_repeat, sorted JVM-side (array_sort), and indexed — no Python
    kernel, no per-tile state.

    → (tile, r, c, v) sparse rows on the rasterize_counts keying."""
    side = 1 << cfg.level
    grid = side * px
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("_gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("_gy"),
        F.col(value_col).cast("long").alias("_v"),
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    shifted = src.select(
        "_gx", "_gy", "_v", F.explode(offsets).alias("_o")
    ).select(
        (F.col("_gx") + F.col("_o.dx")).alias("gx"),
        (F.col("_gy") + F.col("_o.dy")).alias("gy"),
        "_v",
    ).where(
        (F.col("gx") >= 0) & (F.col("gx") < grid)
        & (F.col("gy") >= 0) & (F.col("gy") < grid)
    )
    vals = shifted.groupBy("gx", "gy").agg(
        F.collect_list("_v").alias("_vs")
    )
    padded = F.concat(
        F.col("_vs"),
        F.array_repeat(F.lit(0).cast("long"), F.lit(9) - F.size("_vs")),
    )
    med = F.element_at(F.array_sort(padded), 5)
    return vals.select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        med.cast("long").alias("v"),
    ).where(F.col("v") != 0)


def local_binary_pattern(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Local Binary Pattern texture codes (Ojala et al., the LBP
    descriptor behind classic face/texture classifiers), 8-neighbor
    3x3 variant over the sparse mosaic: for every LIT cell p with value
    v(p), code = sum over i in 0..7 of 2^i * [v(p + d_i) >= v(p)] with
    the neighbor ring d_0..d_7 = E, SE, S, SW, W, NW, N, NE (the _D8
    enumeration; dy grows southward like r). Absent and off-grid
    neighbors read 0 (zero padding), so against a positive raster they
    contribute 0 bits — and in general their bits are [0 >= v(p)],
    folded in as one closed-form term rather than materializing empty
    slots. Domain = lit cells (code 0, a strict local maximum, is
    meaningful and kept — the domain is already sparse).

    Scale shape: bounded 8x fan-out of the sparse input tagged with the
    receiving center position and the bit weight, ONE equi-join back to
    the lit centers on the global pixel key, ONE groupBy on the same
    key (co-partitioned: the join's hash partitioning is reused, no
    second exchange of the big side). Pure JVM throughout.

    → (tile, r, c, code) with code in 0..255."""
    side = 1 << cfg.level
    grid = side * px
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("gy"),
        F.col(value_col).cast("long").alias("_v"),
    )
    # neighbor q = p + d_i contributes bit 2^i to center p = q - d_i
    taps = F.array(*[
        F.struct(
            F.lit(-dx).alias("dx"), F.lit(-dy).alias("dy"),
            F.lit(1 << i).alias("bit"),
        )
        for dx, dy, i in _D8
    ])
    neigh = src.select(
        F.col("_v").alias("_nv"), F.explode(taps).alias("_t"),
        (F.col("gx") + F.col("_t.dx")).alias("gx2"),
        (F.col("gy") + F.col("_t.dy")).alias("gy2"),
    ).select(
        F.col("gx2").alias("gx"), F.col("gy2").alias("gy"),
        F.col("_t.bit").alias("_bit"), "_nv",
    )
    j = src.join(neigh, on=["gx", "gy"], how="left")
    agg = j.groupBy("gx", "gy", "_v").agg(
        F.coalesce(F.sum("_bit"), F.lit(0)).alias("_present"),
        F.coalesce(
            F.sum(F.when(F.col("_nv") >= F.col("_v"), F.col("_bit"))
                  .otherwise(F.lit(0))),
            F.lit(0),
        ).alias("_ge"),
    )
    code = (
        F.col("_ge")
        + (F.lit(255) - F.col("_present"))
        * F.when(F.col("_v") <= 0, F.lit(1)).otherwise(F.lit(0))
    )
    return agg.select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        code.cast("int").alias("code"),
    )


def morphology_gradient(
    pixels_df: DataFrame,
    se: list | None = None,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Morphological gradient (scipy ``morphological_gradient`` /
    ArcGIS boundary extraction): dilate(src) - erode(src) under the
    engine's zero-padding convention, where erosion is read as 0
    anywhere its full-support test fails (absent cells are holes). The
    gradient is positive exactly on edges — interior plateaus cancel —
    so dropping zero rows (sparse invariant, via raster_algebra) keeps
    only the boundary band.

    Pure composition: two bounded-fan-out morphology passes + ONE
    co-partitioned full-outer pixel-key join (raster_algebra); every
    stage is the halo-exchange shape that survives 100 TB.

    → (tile, r, c, v) sparse rows."""
    d = morphology(pixels_df, "dilate", se, cfg, px=px,
                   tile_col=tile_col, value_col=value_col)
    e = morphology(pixels_df, "erode", se, cfg, px=px,
                   tile_col=tile_col, value_col=value_col)
    return raster_algebra(d, e, "subtract", value_col="v")


def top_hat(
    pixels_df: DataFrame,
    se: list | None = None,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    kind: str = "white",
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Top-hat transforms (scipy ``white_tophat`` / ``black_tophat``) —
    the small-feature extractors of grayscale morphology under zero
    padding:

    * ``white``: src - open(src), open = dilate(erode(src)) — keeps
      bright details thinner than the structuring element (peaks the
      opening shaved off).
    * ``black``: close(src) - src, close = erode(dilate(src)) — keeps
      dark pits narrower than the SE (what the closing filled in).

    Every stage reads absent cells as 0 and erosion as 0 where its
    support test fails, so both results are integer-exact and
    oracle-gateable; zero rows are dropped (sparse invariant).

    Scale shape: three bounded-fan-out morphology passes + ONE
    co-partitioned pixel-key join — no new primitive, pure composition
    of halo exchanges.

    → (tile, r, c, v) sparse rows."""
    if kind not in ("white", "black"):
        raise ValueError(f"kind must be 'white' or 'black', got {kind!r}")
    if kind == "white":
        ero = morphology(pixels_df, "erode", se, cfg, px=px,
                         tile_col=tile_col, value_col=value_col)
        opened = morphology(ero, "dilate", se, cfg, px=px,
                            tile_col="tile", value_col="v")
        src = pixels_df.select(
            F.col(tile_col).alias("tile"), "r", "c",
            F.col(value_col).cast("long").alias("v"),
        )
        return raster_algebra(src, opened, "subtract", value_col="v")
    dil = morphology(pixels_df, "dilate", se, cfg, px=px,
                     tile_col=tile_col, value_col=value_col)
    closed = morphology(dil, "erode", se, cfg, px=px,
                        tile_col="tile", value_col="v")
    src = pixels_df.select(
        F.col(tile_col).alias("tile"), "r", "c",
        F.col(value_col).cast("long").alias("v"),
    )
    return raster_algebra(closed, src, "subtract", value_col="v")


def tile_integral(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Per-tile summed-area table (integral image, Viola-Jones /
    OpenCV ``integral``), tile-scoped: within every tile that holds at
    least one lit cell, I(r, c) = sum of values at (r', c') with
    r' <= r AND c' <= c — the O(1) box-sum precomputation for Haar
    features and patch statistics. Integer-exact cumulative longs.

    Tile-scoped on purpose: a GLOBAL integral image over a sparse
    mosaic is inherently dense (every position right/below the first
    lit cell is nonzero — grid^2 rows regardless of sparsity, a
    scale-killer), while the per-tile table is dense only WITHIN lit
    tiles: output <= px^2 x (lit tiles), proportional to the input's
    tile footprint. Patch-level feature extraction wants exactly this
    scope.

    Scale shape: lit-tile lattice (bounded px^2 expansion of the
    DISTINCT tile list) left-joined to the values, then two cumulative
    window passes — row-prefix over (tile, r) ordered by c, then
    column-prefix over (tile, c) ordered by r. Both windows are
    tile-interior (partitions of px rows); the only data movement is
    the hash exchange into tile-keyed partitions, which AQE coalesces.
    Zero rows (the empty top-left corner band) are dropped.

    → (tile, r, c, v) rows, v = the inclusive 2-D prefix sum."""
    key_src = pixels_df.select(
        F.col(tile_col).alias("tile"),
        F.col("r").cast("int").alias("r"),
        F.col("c").cast("int").alias("c"),
        F.col(value_col).cast("long").alias("_v"),
    )
    lattice = (
        key_src.select("tile").distinct()
        .select("tile", F.explode(F.sequence(F.lit(0), F.lit(px - 1))).alias("r"))
        .select("tile", "r",
                F.explode(F.sequence(F.lit(0), F.lit(px - 1))).alias("c"))
    )
    dense = lattice.join(key_src, on=["tile", "r", "c"], how="left").select(
        "tile", "r", "c", F.coalesce("_v", F.lit(0).cast("long")).alias("_v")
    )
    w_row = (
        Window.partitionBy("tile", "r").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h = dense.select("tile", "r", "c", F.sum("_v").over(w_row).alias("_h"))
    w_col = (
        Window.partitionBy("tile", "c").orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = h.select(
        "tile", "r", "c", F.sum("_h").over(w_col).cast("long").alias("v")
    )
    return out.where(F.col("v") != 0)


def terrain_indices(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Terrain Ruggedness Index + Topographic Position Index (the
    Riley/Wilson TRI and Weiss TPI of GDAL ``gdaldem TRI/TPI``), both
    as exact integers over the 8-neighbor ring with zero padding
    (absent and off-grid cells read 0):

      * ``tri``  = sum over the 8 slots of \\|v(p + d_i) - v(p)\\| —
        the absolute-difference ruggedness (Wilson variant, used by
        gdaldem's default); folded as sum_present \\|v_n - v_c\\| +
        (8 - n_present) * \\|v_c\\| so empty slots never materialize.
      * ``tpi8`` = 8 * v(p) - sum of the 8 slot values — the classic
        center-minus-neighborhood-mean scaled by 8 to stay integral
        (tpi8 > 0: ridge/peak; < 0: valley/pit; 0: flat or saddle).

    Domain = lit cells. Scale shape: identical to local_binary_pattern
    — bounded 8x fan-out of the sparse input, ONE co-partitioned
    equi-join back to centers on the global pixel key, ONE groupBy on
    the same key. Pure JVM.

    → (tile, r, c, tri, tpi8)."""
    side = 1 << cfg.level
    grid = side * px
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("gy"),
        F.col(value_col).cast("long").alias("_v"),
    )
    taps = F.array(*[
        F.struct(F.lit(-dx).alias("dx"), F.lit(-dy).alias("dy"))
        for dx, dy, _ in _D8
    ])
    neigh = src.select(
        F.col("_v").alias("_nv"), F.explode(taps).alias("_t"),
        (F.col("gx") + F.col("_t.dx")).alias("gx2"),
        (F.col("gy") + F.col("_t.dy")).alias("gy2"),
    ).select(
        F.col("gx2").alias("gx"), F.col("gy2").alias("gy"), "_nv",
    )
    j = src.join(neigh, on=["gx", "gy"], how="left")
    agg = j.groupBy("gx", "gy", "_v").agg(
        F.coalesce(F.count("_nv"), F.lit(0)).alias("_n"),
        F.coalesce(F.sum(F.abs(F.col("_nv") - F.col("_v"))), F.lit(0))
        .alias("_sad"),
        F.coalesce(F.sum("_nv"), F.lit(0)).alias("_sv"),
    )
    return agg.select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        (F.col("_sad") + (F.lit(8) - F.col("_n")) * F.abs("_v"))
        .cast("long").alias("tri"),
        (F.lit(8) * F.col("_v") - F.col("_sv")).cast("long").alias("tpi8"),
    )


def histogram_match(
    src_df: DataFrame,
    ref_df: DataFrame,
    value_col: str = "cnt",
    ref_value_col: str = "cnt",
) -> DataFrame:
    """Integer histogram matching / quantile mapping (scikit-image
    ``match_histograms``, nearest-rank variant — the radiometric
    normalization step before mosaicking or change detection): remap
    every lit source value v to the smallest reference value w whose
    reference CDF covers v's source CDF position,

        v_new(v) = min{ w : cdf_r(w) * n_s >= cdf_s(v) * n_r }

    — a CROSS-MULTIPLIED integer condition (no division, no floats), so
    the mapping table and the remapped raster hash-gate bit-for-bit.
    The minimum always exists (cdf_r(max w) = n_r covers everything).

    Scale shape: the two histograms are VALUE-DOMAIN-sized, not
    data-sized — one groupBy(value) each (map-side combined), cumsum
    via one tiny single-partition window (fine: rows = distinct
    values), the mapping via a broadcast inequality join between the
    two histogram frames, and ONE broadcast equi-join to remap the
    source raster — the big side never shuffles. n_s / n_r are two
    scalar counts (driver-side literals, the tfidf/bm25 precedent).

    → (tile, r, c, v) with v = the remapped value."""
    s = src_df.select(
        "tile", "r", "c", F.col(value_col).cast("long").alias("_v")
    )
    r = ref_df.select(F.col(ref_value_col).cast("long").alias("_w"))
    n_r = r.count()
    if n_r == 0:
        raise ValueError("reference raster is empty")
    n_s = s.count()
    if n_s == 0:
        return s.select(
            "tile", "r", "c", F.col("_v").alias("v")
        ).where(F.lit(False))
    w_s = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    hs = (
        s.groupBy("_v").agg(F.count(F.lit(1)).alias("_c"))
        .select("_v", F.sum("_c").over(w_s).alias("_cs"))
    )
    w_r = Window.orderBy("_w").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    hr = (
        r.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
        .select("_w", F.sum("_c").over(w_r).alias("_cr"))
    )
    mapping = (
        hs.join(
            F.broadcast(hr),
            F.col("_cr") * F.lit(int(n_s)) >= F.col("_cs") * F.lit(int(n_r)),
        )
        .groupBy("_v").agg(F.min("_w").alias("_vn"))
    )
    return s.join(F.broadcast(mapping), on="_v").select(
        "tile", "r", "c", F.col("_vn").cast("long").alias("v")
    )


def area_opening(
    pixels_df: DataFrame,
    min_px: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    threshold: int = 1,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Area opening (scipy ``remove_small_objects`` / GRASS
    ``r.reclass.area``): delete 4-connected regions holding fewer than
    ``min_px`` lit (>= threshold) cells, keep the surviving cells with
    their original values — the standard despeckle step between
    thresholding and polygonize/vectorize.

    Scale shape: the only pixel-granular stage is label_regions'
    per-tile Arrow min-propagation; everything after is
    REGION-granular — one groupBy(region_id) count (map-side combined)
    and one left-semi join back to the labeled cells (AQE broadcasts
    the surviving-region list when it is small, which it is unless the
    raster is all mega-regions). Never pixel-pair-granular.

    → (tile, r, c, cnt) surviving sparse rows on the rasterize_counts
    keying."""
    if min_px < 1:
        raise ValueError("min_px must be >= 1")
    side = 1 << cfg.level
    lab = label_regions(pixels_df, cfg, px=px, threshold=threshold,
                        tile_col=tile_col, value_col=value_col)
    keep = (
        lab.groupBy("region_id").agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= int(min_px))
        .select("region_id")
    )
    return (
        lab.join(keep, on="region_id", how="left_semi")
        .select(
            ((F.col("gx") / px).cast("long") * side
             + (F.col("gy") / px).cast("long")).alias("tile"),
            (F.col("gy") % px).cast("int").alias("r"),
            (F.col("gx") % px).cast("int").alias("c"),
            F.col("v").cast("long").alias("cnt"),
        )
    )


def region_moments(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    threshold: int = 1,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Second-order region moments (the regionprops orientation /
    eccentricity inputs — scikit-image ``moments_central`` order 2,
    unweighted): per 4-connected region, the pixel count and the EXACT
    central-moment NUMERATORS

        mu20n = n * sum(gx^2) - sum(gx)^2        (= n^2 * mu20)
        mu02n = n * sum(gy^2) - sum(gy)^2
        mu11n = n * sum(gx*gy) - sum(gx)*sum(gy)

    — all longs, no division, so orientation (atan2(2*mu11n,
    mu20n - mu02n)) and eccentricity are one float step downstream and
    the table itself hash-gates. Complements region_shape_stats
    (count/perimeter/bbox/centroid) with the inertia tensor.

    Scale shape: label_regions' per-tile Arrow stage is the only
    pixel-granular work; the moment sums are ONE region-key groupBy
    (map-side combined). → (region_id, n_px, sgx, sgy, mu20n, mu02n,
    mu11n)."""
    lab = label_regions(pixels_df, cfg, px=px, threshold=threshold,
                        tile_col=tile_col, value_col=value_col)
    gx, gy = F.col("gx").cast("long"), F.col("gy").cast("long")
    agg = lab.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum(gx).alias("sgx"), F.sum(gy).alias("sgy"),
        F.sum(gx * gx).alias("_sxx"), F.sum(gy * gy).alias("_syy"),
        F.sum(gx * gy).alias("_sxy"),
    )
    n = F.col("n_px")
    return agg.select(
        F.col("region_id").cast("long").alias("region_id"),
        n.cast("long").alias("n_px"),
        F.col("sgx").cast("long").alias("sgx"),
        F.col("sgy").cast("long").alias("sgy"),
        (n * F.col("_sxx") - F.col("sgx") * F.col("sgx"))
        .cast("long").alias("mu20n"),
        (n * F.col("_syy") - F.col("sgy") * F.col("sgy"))
        .cast("long").alias("mu02n"),
        (n * F.col("_sxy") - F.col("sgx") * F.col("sgy"))
        .cast("long").alias("mu11n"),
    )


# FAST-16 Bresenham ring (radius 3), standard enumeration, dy southward
_FAST_RING = [
    (0, -3), (1, -3), (2, -2), (3, -1), (3, 0), (3, 1), (2, 2), (1, 3),
    (0, 3), (-1, 3), (-2, 2), (-3, 1), (-3, 0), (-3, -1), (-2, -2), (-1, -3),
]


def fast_corners(
    pixels_df: DataFrame,
    t: int = 0,
    n_run: int = 12,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """FAST corner detection (Rosten-Drummond FAST-N, the detector
    behind ORB): a lit cell p is a corner when >= ``n_run`` CONTIGUOUS
    cells of its radius-3 Bresenham ring (16 cells) are all brighter
    than v(p)+t (``bright``) or all darker than v(p)-t (``dark``).
    Absent and off-grid ring cells read 0 (zero padding) — so on a
    positive raster the background ring of a blob is "dark" and blob
    corners light up the dark test, the FAST analogue of the Harris
    entry's blob corners. Integer-exact throughout.

    The contiguity test is pure JVM bit arithmetic: the 16-bit ring
    mask doubled into 32 bits (m | m<<16) makes circular runs linear,
    and AND-ing the ``n_run`` shifted copies leaves a set bit exactly
    where a full run starts. The absent-cell bits fold in closed form
    ((0xFFFF - present) * [0 compares]) — empty slots never
    materialize.

    Scale shape: identical to local_binary_pattern at 16 taps — bounded
    fan-out of the sparse input, ONE co-partitioned equi-join back to
    lit centers on the global pixel key, ONE groupBy on the same key.

    → (tile, r, c, bright, dark) int 0/1 flags, corner rows only."""
    if not 1 <= n_run <= 16:
        raise ValueError("n_run must be in 1..16")
    side = 1 << cfg.level
    grid = side * px
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("gy"),
        F.col(value_col).cast("long").alias("_v"),
    )
    taps = F.array(*[
        F.struct(
            F.lit(-dx).alias("dx"), F.lit(-dy).alias("dy"),
            F.lit(1 << i).alias("bit"),
        )
        for i, (dx, dy) in enumerate(_FAST_RING)
    ])
    neigh = src.select(
        F.col("_v").alias("_nv"), F.explode(taps).alias("_t"),
        (F.col("gx") + F.col("_t.dx")).alias("gx2"),
        (F.col("gy") + F.col("_t.dy")).alias("gy2"),
    ).select(
        F.col("gx2").alias("gx"), F.col("gy2").alias("gy"),
        F.col("_t.bit").alias("_bit"), "_nv",
    )
    j = src.join(neigh, on=["gx", "gy"], how="left")
    agg = j.groupBy("gx", "gy", "_v").agg(
        F.coalesce(F.sum("_bit"), F.lit(0)).alias("_present"),
        F.coalesce(
            F.sum(F.when(F.col("_nv") > F.col("_v") + F.lit(int(t)),
                         F.col("_bit")).otherwise(F.lit(0))), F.lit(0),
        ).alias("_bp"),
        F.coalesce(
            F.sum(F.when(F.col("_nv") < F.col("_v") - F.lit(int(t)),
                         F.col("_bit")).otherwise(F.lit(0))), F.lit(0),
        ).alias("_dp"),
    )
    absent = F.lit(65535) - F.col("_present")
    bright = (
        F.col("_bp")
        + absent * F.when(F.col("_v") + F.lit(int(t)) < 0, F.lit(1))
        .otherwise(F.lit(0))
    )
    dark = (
        F.col("_dp")
        + absent * F.when(F.col("_v") - F.lit(int(t)) > 0, F.lit(1))
        .otherwise(F.lit(0))
    )

    def has_run(mask):
        m2 = F.shiftleft(mask, 16).bitwiseOR(mask)
        r = m2
        for k in range(1, int(n_run)):
            r = r.bitwiseAND(F.shiftright(m2, k))
        return r.bitwiseAND(F.lit(65535)) != F.lit(0)

    flagged = agg.select(
        "gx", "gy",
        has_run(bright).cast("int").alias("bright"),
        has_run(dark).cast("int").alias("dark"),
    ).where((F.col("bright") + F.col("dark")) > 0)
    return flagged.select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        "bright", "dark",
    )


def percentile_stretch(
    pixels_df: DataFrame,
    lo_q: int = 2,
    hi_q: int = 98,
    out_max: int = 255,
    value_col: str = "cnt",
) -> DataFrame:
    """Percentile contrast stretch (the remote-sensing display
    normalization — GDAL ``-scale`` with percentile clip / QGIS
    "cumulative count cut"): clip values to the [lo_q, hi_q] nearest-
    rank percentiles of the LIT distribution, then map linearly onto
    0..out_max with integer arithmetic only:

        v8 = ((clip(v) - p_lo) * out_max) DIV max(1, p_hi - p_lo)

    The numerator is nonnegative by construction, so truncating and
    flooring division agree and the result is engine-exact. Percentile
    p_q = the smallest value whose cumulative count satisfies
    cum * 100 >= n * q (ceil nearest-rank).

    Scale shape: one value-histogram groupBy (VALUE-DOMAIN-sized) + a
    tiny cumsum window for the two cut points (driver scalars, the
    tfidf precedent), then a pure projection over the raster — the big
    side never shuffles.

    → (tile, r, c, v8)."""
    if not 0 <= lo_q < hi_q <= 100:
        raise ValueError("need 0 <= lo_q < hi_q <= 100")
    from pyspark.sql import Window

    s = pixels_df.select(
        "tile", "r", "c", F.col(value_col).cast("long").alias("_v")
    )
    w_cum = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hist = (
        s.groupBy("_v").agg(F.count(F.lit(1)).alias("_c"))
        .select("_v", F.sum("_c").over(w_cum).alias("_cum"),
                F.sum("_c").over(Window.partitionBy()).alias("_n"))
    )

    def cut(q: int) -> int:
        row = (
            hist.where(F.col("_cum") * 100 >= F.col("_n") * F.lit(int(q)))
            .agg(F.min("_v").alias("v")).first()
        )
        return int(row["v"])

    if s.rdd.isEmpty():
        return s.select("tile", "r", "c",
                        F.col("_v").alias("v8")).where(F.lit(False))
    p_lo, p_hi = cut(lo_q), cut(hi_q)
    den = max(1, p_hi - p_lo)
    clipped = F.greatest(F.lit(p_lo), F.least(F.lit(p_hi), F.col("_v")))
    v8 = ((clipped - F.lit(p_lo)) * F.lit(int(out_max))) / F.lit(den)
    return s.select(
        "tile", "r", "c",
        F.floor(v8).cast("long").alias("v8"),
    )


def mask_rle(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Run-length encoding of the binary mask — the COCO segmentation
    storage format (pycocotools RLE; also GDAL bitmap masks): per tile
    row, maximal runs of consecutive lit pixels. Lit = value_col != 0.

    → (tile, r, c0, run_len) — one row per maximal horizontal run. A
    solid tile row is ONE output row (px:1 compression); RLE output is
    proportional to mask boundary length, the reason detection pipelines
    ship masks this way at scale.

    Exact and engine-independent, so it hash-gates against a classic
    gaps-and-islands SQL twin: within (tile, r) ordered by c, the island
    key is c - row_number() — constant exactly on consecutive runs.

    Scale shape: ONE shuffle, partitioned by (tile, r) — the window and
    the follow-up groupBy share the partitioning, so Catalyst plans a
    single exchange; no kernel, no fan-out, pure JVM."""
    w = Window.partitionBy(tile_col, "r").orderBy("c")
    lit = pixels_df.where(F.col(value_col) != 0).select(tile_col, "r", "c")
    runs = lit.withColumn(
        "_grp", F.col("c") - F.row_number().over(w)
    )
    return runs.groupBy(tile_col, "r", "_grp").agg(
        F.min("c").alias("c0"),
        F.count(F.lit(1)).cast("long").alias("run_len"),
    ).select(tile_col, "r", "c0", "run_len")


def bilateral_filter(
    pixels_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    px: int = 16,
    spatial_kernel=None,
    range_table=None,
    tile_col: str = "tile",
    value_col: str = "cnt",
) -> DataFrame:
    """Edge-preserving bilateral filter (Tomasi & Manduchi, ICCV 1998)
    over the sparse tile mosaic, integer-exact: for every LIT pixel p,

        num(p) = Σ_q ws[q-p] · wr[min(|v_p - v_q|, cap)] · v_q
        den(p) = Σ_q ws[q-p] · wr[min(|v_p - v_q|, cap)]

    over the lit 3×3 neighbors q (absent pixels contribute nothing —
    the sparse analogue of normalized convolution). Both weight tables
    are INTEGER lookups (quantized Gaussians by default), so num/den are
    exact longs and the operator hash-gates; the caller divides.

    Unlike a fixed convolution the weight depends on the CENTER value,
    so the plan is fan-out + join: each lit q emits its 9 shifted
    positions with the spatial weight attached (bounded 9× sparse
    fan-out), an equi-join on the global pixel key attaches the center
    value v_p (inner join ⇒ only lit centers produce output), the range
    weight is a pure-JVM array lookup, and ONE groupBy on the pixel key
    sums. The join and groupBy share the (gx, gy) partitioning — the
    shuffle is again the cross-tile halo exchange; no Python kernel.

    → (tile, r, c, num, den) on the engine's sparse-raster keying."""
    sk = spatial_kernel or [[1, 2, 1], [2, 4, 2], [1, 2, 1]]
    rt = [int(w) for w in (range_table or [16, 12, 7, 3, 1])]
    sk = [[int(v) for v in row] for row in sk]
    if len(sk) != 3 or any(len(r) != 3 for r in sk):
        raise ValueError("spatial_kernel must be 3x3")
    if not rt:
        raise ValueError("range_table must be non-empty")
    side = 1 << cfg.level
    grid = side * px
    src = pixels_df.select(
        ((F.col(tile_col) / side).cast("long") * px + F.col("c")).alias("gx"),
        ((F.col(tile_col) % side) * px + F.col("r")).alias("gy"),
        F.col(value_col).cast("long").alias("_vq"),
    )
    taps = [
        F.struct(
            F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
            F.lit(sk[1 + dy][1 + dx]).alias("ws"),
        )
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        if sk[1 + dy][1 + dx] != 0
    ]
    shifted = src.select(
        "gx", "gy", "_vq", F.explode(F.array(*taps)).alias("_t")
    ).select(
        (F.col("gx") + F.col("_t.dx")).alias("gx"),
        (F.col("gy") + F.col("_t.dy")).alias("gy"),
        "_vq",
        F.col("_t.ws").alias("_ws"),
    ).where(
        (F.col("gx") >= 0) & (F.col("gx") < grid)
        & (F.col("gy") >= 0) & (F.col("gy") < grid)
    )
    centers = src.select("gx", "gy", F.col("_vq").alias("_vp"))
    rt_arr = F.array(*[F.lit(w) for w in rt])
    wr = F.element_at(
        rt_arr,
        (F.least(F.abs(F.col("_vp") - F.col("_vq")), F.lit(len(rt) - 1))
         + F.lit(1)).cast("int"),
    )
    joined = shifted.join(centers, ["gx", "gy"]).select(
        "gx", "gy", "_vp",
        (F.col("_ws") * wr).alias("_w"),
        (F.col("_ws") * wr * F.col("_vq")).alias("_wv"),
    )
    return joined.groupBy("gx", "gy").agg(
        F.sum("_wv").alias("num"), F.sum("_w").alias("den")
    ).select(
        ((F.col("gx") / px).cast("long") * side
         + (F.col("gy") / px).cast("long")).alias("tile"),
        (F.col("gy") % px).cast("int").alias("r"),
        (F.col("gx") % px).cast("int").alias("c"),
        F.col("num").cast("long").alias("num"),
        F.col("den").cast("long").alias("den"),
    )
