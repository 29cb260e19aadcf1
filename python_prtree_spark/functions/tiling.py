"""Grid / quadkey tiler: the global (level-1) partitioner.

Replaces the reference's single-node pseudo-PRTree kd-partitioning
(/root/reference/include/prtree/core/detail/pseudo_tree.h:123-225) with a
deterministic 2^L x 2^L grid over a configured world extent:

  * SQL-string builders — the only Spark-side source of the grid
    formulas: ``axis_index_sql`` (clamped grid index along one axis),
    ``explode_cells`` (one row per covering cell via sequence + explode,
    JVM-side), ``ref_cell_sql`` and ``morton_sql``. Strings, not nested
    Column calls, because each Column node costs one py4j round trip and
    these expressions sit on every operator's plan-construction path; the
    parsed trees are the same;
  * ``ref_cell_sql`` — the *reference-point* cell of a candidate pair: the
    cell containing (max(xmin_a, xmin_b), max(ymin_a, ymin_b)), i.e. the
    min-corner of the intersection. Every intersecting pair is reported in
    exactly one cell, so NO post-join dedup shuffle is needed (the
    distributed analogue of the reference's in-memory `i<j` dedup at
    prtree.h:890-894). This is the PBSM duplicate-avoidance technique;
  * ``morton_sql`` — the Z-order key of a row-major cell id. The index
    table's ``zorder`` column and the store's bucket of a cell both come
    from it;
  * numpy ``cell_of_point_np`` for use inside Arrow UDFs, and
    ``morton_encode``, the numpy reference of ``morton_sql``.

Cells only route rows. The closed-interval AABB predicate is the only
arbiter of results (reference bounding_box.h:104-123), so clamping
out-of-extent geometry into border cells is exact.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_prtree_spark.config import Extent

__all__ = [
    "axis_index_sql",
    "explode_cells",
    "ref_cell_sql",
    "cell_of_point_np",
    "morton_encode",
    "morton_sql",
    "hilbert_key_col",
]


# ---------------------------------------------------------------------------
# Spark SQL expressions (JVM-side)
# ---------------------------------------------------------------------------

def dlit(x: float) -> str:
    """Exact DOUBLE literal for SQL-string expression building: shortest
    round-trip repr plus an exponent marker, because a bare decimal like
    ``105.0`` parses as DECIMAL in Spark SQL (different arithmetic), while
    scientific notation parses as DOUBLE with correctly-rounded strtod —
    bit-identical to the Python float."""
    x = float(x)
    r = repr(x)
    if "e" in r or "E" in r:
        return r
    if "inf" in r or "nan" in r:
        raise ValueError(f"non-finite literal in SQL expression: {x!r}")
    return r + "E0"


def axis_index_sql(coord_sql: str, lo: float, size: float, side: int) -> str:
    """Grid index of the SQL fragment ``coord_sql`` along one axis, clamped
    to [0, side-1]. Callers backtick plain column names themselves and
    pass float literals inside the fragment through ``dlit``."""
    return (
        f"CAST(greatest(0, least({side - 1}, "
        f"FLOOR(({coord_sql} - {dlit(lo)}) / {dlit(size)} * {side}))) AS BIGINT)"
    )


def explode_cells(
    df: DataFrame,
    extent: Extent,
    level: int,
    xmin: str = "xmin", ymin: str = "ymin", xmax: str = "xmax", ymax: str = "ymax",
    cell_col: str = "cell",
) -> DataFrame:
    """One output row per (row, covering cell). cell id = ix * side + iy
    (row-major; a bijection is all the equi-join needs — Morton order is
    applied only when persisting the index for scan locality).

    Built from THREE selectExpr strings instead of per-node Column calls:
    the parsed plan is identical, but this function sits on every spatial
    operator's hot path and the Column form cost ~70 py4j round trips
    (~0.17 s of pure driver latency per call on this host)."""
    side = 1 << level
    ax = lambda c, lo, size: axis_index_sql(  # noqa: E731
        f"`{c}`", lo, size, side)
    w, h = extent.width(), extent.height()
    cols = [f"`{c}`" for c in df.columns]
    return (
        df.selectExpr(
            *cols,
            f"explode(sequence({ax(xmin, extent.xmin, w)}, "
            f"{ax(xmax, extent.xmin, w)})) AS _ix",
        )
        .selectExpr(
            "*",
            f"explode(sequence({ax(ymin, extent.ymin, h)}, "
            f"{ax(ymax, extent.ymin, h)})) AS _iy",
        )
        .selectExpr(*cols, f"_ix * {side} + _iy AS `{cell_col}`")
    )


def ref_cell_sql(
    a_xmin: str, a_ymin: str, b_xmin: str, b_ymin: str,
    extent: Extent, level: int,
) -> str:
    """Cell containing the min-corner of the intersection of boxes a and b,
    over plain column names (backticked here)."""
    side = 1 << level
    rx = axis_index_sql(
        f"greatest(`{a_xmin}`, `{b_xmin}`)", extent.xmin, extent.width(), side)
    ry = axis_index_sql(
        f"greatest(`{a_ymin}`, `{b_ymin}`)", extent.ymin, extent.height(), side)
    return f"{rx} * {side} + {ry}"


# ---------------------------------------------------------------------------
# numpy (inside Arrow UDFs)
# ---------------------------------------------------------------------------

def _axis_index_np(coord: np.ndarray, lo: float, size: float, side: int) -> np.ndarray:
    idx = np.floor((coord - lo) / size * side).astype(np.int64)
    return np.clip(idx, 0, side - 1)


def cell_of_point_np(x: np.ndarray, y: np.ndarray, extent: Extent, level: int) -> np.ndarray:
    side = 1 << level
    ix = _axis_index_np(x, extent.xmin, extent.width(), side)
    iy = _axis_index_np(y, extent.ymin, extent.height(), side)
    return ix * side + iy


# ---------------------------------------------------------------------------
# Morton / Z-order (index-table layout and buckets)
# ---------------------------------------------------------------------------

def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 16 bits of v so there is a zero bit between each."""
    v = v.astype(np.uint64) & np.uint64(0xFFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x33333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x55555555)
    return v


def morton_encode(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """Interleave two <=16-bit grid indices into a Z-order key (int64)."""
    return (_spread_bits(np.asarray(ix)) | (_spread_bits(np.asarray(iy)) << np.uint64(1))).astype(
        np.int64
    )


def morton_sql(cell: str, level: int) -> str:
    """Z-order key of the row-major cell id in column ``cell`` (backticked
    here): ``morton_encode(cell // side, cell % side)`` as pure bit ops
    that stay in codegen. Builds the index's ``zorder`` and maps cells to
    index-table buckets without collecting them to the driver."""
    side = 1 << level

    def spread(v: str) -> str:
        v = f"({v} & 65535)"
        v = f"(({v} | shiftleft({v}, 8)) & {0x00FF00FF})"
        v = f"(({v} | shiftleft({v}, 4)) & {0x0F0F0F0F})"
        v = f"(({v} | shiftleft({v}, 2)) & {0x33333333})"
        v = f"(({v} | shiftleft({v}, 1)) & {0x55555555})"
        return v

    ix = f"CAST(FLOOR(`{cell}` / {side}) AS BIGINT)"
    iy = f"(`{cell}` % {side})"
    return f"CAST(({spread(ix)} | shiftleft({spread(iy)}, 1)) AS BIGINT)"


def hilbert_key_col(x, y, order: int = 8):
    """Hilbert-curve index of integer cell (x, y) on a 2^order grid —
    the locality-preserving alternative to Z-order for data layout
    (clustering parquet files by Hilbert key keeps spatial neighbors in
    the same file with provably better worst-case locality than
    Morton; Delta/Iceberg OPTIMIZE ... ZORDER family). Pure column
    arithmetic: the classic xy2d bit walk (top bit down, quadrant Gray
    code + frame rotation) UNROLLED ``order`` times into plain
    when/bitwise expressions — a projection, no shuffle, no UDF,
    hash-gateable bit-for-bit.

    x, y: Columns or names holding integers in [0, 2^order). → long
    Column."""
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    xx, yy = cx.cast("long"), cy.cast("long")
    d = F.lit(0).cast("long")
    for lvl in range(int(order) - 1, -1, -1):
        s = 1 << lvl
        rx = F.when(xx.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(yy.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        d = d + F.lit(s) * F.lit(s) * (
            (F.lit(3) * rx).bitwiseXOR(ry)
        ).cast("long")
        # rotate the frame for the next level (classic xy2d step:
        # reflect with the FULL grid's n-1, then swap — only when ry=0)
        n1 = (1 << int(order)) - 1
        nx = F.when(ry == 0,
                    F.when(rx == 1, F.lit(n1) - yy).otherwise(yy)
                    ).otherwise(xx)
        ny = F.when(ry == 0,
                    F.when(rx == 1, F.lit(n1) - xx).otherwise(xx)
                    ).otherwise(yy)
        xx, yy = nx, ny
    return d
