"""Seeded inputs and their numpy mirrors.

Every input is a pure function of (seed, stream, row id), written once with
operators that mean the same thing on a Spark ``Column`` and on a numpy
``int64`` array, so the benchmark can hand Spark a lazy ``spark.range``
expression and still hold the exact same doubles on the driver for the
brute-force checks. Integer steps stay below 2**63 (Spark 4 runs ANSI mode,
where long overflow raises).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

M = 2_147_483_647  # 2**31 - 1, prime

VOCAB = 5000        # caption vocabulary
CAPTION_TOKENS = 16
DUP_EVERY = 25      # caption of id with id % DUP_EVERY == 1 copies id - 1 but one token
EMB_DIM = 32


def _params(seed: int, stream: int) -> tuple[int, int]:
    """Multiplier and offset of one hash stream; both in [1, M)."""
    a = (48_271 + 7_919 * (seed * 16 + stream)) % (M - 1) + 1
    b = (seed * 2_654_435_761 + stream * 40_503 + 12_345) % (M - 1) + 1
    return a, b


def _f64(v):
    return v.cast("double") if isinstance(v, Column) else v.astype(np.float64)


def _hashes(i, seed: int, stream: int):
    """Three hash values in [0, M) per row; the squaring steps break the
    lattice an affine hash of consecutive ids would draw."""
    a, b = _params(seed, stream)
    hx = (i * a + b) % M
    hy = (hx * hx + b) % M
    hw = (hy * hy + a) % M
    return hx, hy, hw


def box_coords(i, seed: int, stream: int, x0: float, y0: float, span: float,
               w0: float, wspan: float):
    """(xmin, ymin, xmax, ymax) of square-ish boxes with mins uniform in
    [x0, x0 + span) and sides in [w0, w0 + wspan)."""
    hx, hy, hw = _hashes(i, seed, stream)
    x = x0 + _f64(hx) / M * span
    y = y0 + _f64(hy) / M * span
    w = w0 + _f64(hw % 1000) / 1000.0 * wspan
    h = w0 + _f64(hw % 997) / 997.0 * wspan
    return x, y, x + w, y + h


class BoxSet:
    """A seeded box table: ``df`` for Spark, ``arrays()`` for numpy.

    ``hot_share`` of the rows (those with ``id % 10 < 10 * hot_share``) are
    squeezed into a ``hot_span`` square at ``hot_at``, so one tiling cell
    holds far more rows than the others."""

    def __init__(self, seed: int, stream: int, lo: int, hi: int, *,
                 x0: float = 0.0, y0: float = 0.0, span: float = 100.0,
                 w0: float = 0.01, wspan: float = 0.1, hot_share: float = 0.0,
                 hot_at: tuple[float, float] = (0.0, 0.0), hot_span: float = 1.0,
                 id_col: str = "id"):
        self.seed, self.stream, self.lo, self.hi = seed, stream, lo, hi
        self.geo = (x0, y0, span, w0, wspan)
        self.hot_tenths = int(round(hot_share * 10))
        self.hot = (hot_at[0], hot_at[1], hot_span, w0, wspan)
        self.id_col = id_col

    def _coords(self, i, where):
        plain = box_coords(i, self.seed, self.stream, *self.geo)
        if not self.hot_tenths:
            return plain
        hot = box_coords(i, self.seed, self.stream, *self.hot)
        cond = (i % 10) < self.hot_tenths
        return [where(cond, h, p) for h, p in zip(hot, plain)]

    def df(self, spark: SparkSession, partitions: int = 8) -> DataFrame:
        i = F.col("id")
        c = self._coords(i, lambda cond, a, b: F.when(cond, a).otherwise(b))
        return spark.range(self.lo, self.hi, 1, partitions).select(
            i.alias(self.id_col), *[v.alias(n) for v, n in zip(c, BOX)]
        )

    def arrays(self) -> tuple[np.ndarray, np.ndarray]:
        """(ids, boxes[n, 4]) exactly as Spark computes them."""
        ids = np.arange(self.lo, self.hi, dtype=np.int64)
        c = self._coords(ids, np.where)
        return ids, np.stack(c, axis=1)


BOX = ["xmin", "ymin", "xmax", "ymax"]


def overlaps(q: np.ndarray, boxes: np.ndarray) -> np.ndarray:
    """Closed-interval AABB test of one box against many."""
    return ((boxes[:, 0] <= q[2]) & (q[0] <= boxes[:, 2])
            & (boxes[:, 1] <= q[3]) & (q[1] <= boxes[:, 3]))


# --------------------------------------------------------------------------
# curation inputs
# --------------------------------------------------------------------------

def caption_source(i):
    """Row whose tokens 1.. a caption copies (itself, or its predecessor for
    an injected near-duplicate)."""
    if isinstance(i, Column):
        return F.when(i % DUP_EVERY == 1, i - 1).otherwise(i)
    return np.where(i % DUP_EVERY == 1, i - 1, i)


def caption_token_ids(i, seed: int) -> list:
    """Token ids of each caption: token 0 from the row itself, the rest from
    ``caption_source`` — an injected pair shares all but one token."""
    src = caption_source(i)
    out = []
    for k in range(CAPTION_TOKENS):
        a, b = _params(seed, 100 + k)
        out.append(((i if k == 0 else src) * a + b) % M % VOCAB)
    return out


def caption_col(i: Column, seed: int) -> Column:
    return F.concat_ws(" ", *[F.concat(F.lit("w"), t.cast("string"))
                              for t in caption_token_ids(i, seed)])


def caption_sets(ids: np.ndarray, seed: int) -> list[frozenset]:
    toks = np.stack(caption_token_ids(ids.astype(np.int64), seed), axis=1)
    return [frozenset(row.tolist()) for row in toks]


def injected_pairs(ids: np.ndarray) -> set[tuple[int, int]]:
    id_set = set(ids.tolist())
    return {(int(i) - 1, int(i)) for i in ids
            if i % DUP_EVERY == 1 and int(i) - 1 in id_set}


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def embeddings_df(spark: SparkSession, seed: int, n: int) -> DataFrame:
    i = F.col("id")
    comps = []
    for k in range(EMB_DIM):
        a, b = _params(seed, 200 + k)
        comps.append(F.lit(-0.5) + ((i * a + b) % M).cast("double") / M)
    return spark.range(0, n, 1, 4).select(
        i.alias("vec_id"), F.array(*comps).alias("embedding"))


def _triangle_params(i, seed: int, extent: float):
    """Centre and radius of CCW triangles spread over the extent."""
    hx, hy, hw = _hashes(i, seed, 300)
    cx = 0.1 * extent + _f64(hx) / M * (0.8 * extent)
    cy = 0.1 * extent + _f64(hy) / M * (0.8 * extent)
    r = 0.02 * extent + _f64(hw % 1000) / 1000.0 * (0.06 * extent)
    return cx, cy, r


def triangles_df(spark: SparkSession, seed: int, n: int, extent: float) -> DataFrame:
    i = F.col("id")
    cx, cy, r = _triangle_params(i, seed, extent)
    pt = lambda x, y: F.struct(x.alias("x"), y.alias("y"))  # noqa: E731
    return spark.range(0, n, 1, 1).select(
        i.alias("poly_id"),
        F.array(pt(cx - r, cy - r), pt(cx + r, cy - r), pt(cx, cy + r)).alias("ring"),
        (cx - r).alias("xmin"), (cy - r).alias("ymin"),
        (cx + r).alias("xmax"), (cy + r).alias("ymax"),
    )


def triangles(seed: int, n: int, extent: float) -> list[np.ndarray]:
    """numpy mirror of ``triangles_df``: one (3, 2) ring per poly_id."""
    cx, cy, r = _triangle_params(np.arange(n, dtype=np.int64), seed, extent)
    return [np.array([[x - d, y - d], [x + d, y - d], [x, y + d]])
            for x, y, d in zip(cx, cy, r)]


def zonal_oracle(tiles, tris) -> dict[int, tuple[int, int, int, int]]:
    """Brute force over every (tile, zone) pair whose boxes meet:
    {poly_id: (n_px, sum, min, max)} over pixel centres that pass the
    inclusive half-plane test of every CCW edge."""
    agg: dict[int, tuple[int, int, int, int]] = {}
    for px, (x0, y0, x1, y1) in tiles:
        h, w = px.shape[:2]
        xc = x0 + (np.arange(w) + 0.5) * ((x1 - x0) / w)
        yc = y0 + (np.arange(h) + 0.5) * ((y1 - y0) / h)
        X, Y = xc[None, :], yc[:, None]
        for pj, ring in enumerate(tris):
            if (ring[:, 0].max() < x0 or x1 < ring[:, 0].min()
                    or ring[:, 1].max() < y0 or y1 < ring[:, 1].min()):
                continue
            mask = np.ones((h, w), dtype=bool)
            for (vx, vy), (ux, uy) in zip(ring, np.roll(ring, -1, axis=0)):
                mask &= (ux - vx) * (Y - vy) - (uy - vy) * (X - vx) >= 0
            n = int(mask.sum())
            if n == 0:
                continue
            vals = px[mask]
            e = (n, int(vals.sum(dtype=np.int64)), int(vals.min()), int(vals.max()))
            c = agg.get(pj)
            agg[pj] = e if c is None else (
                c[0] + e[0], c[1] + e[1], min(c[2], e[2]), max(c[3], e[3]))
    return agg
