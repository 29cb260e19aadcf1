"""N-dimensional operators (D ∈ {2, 3, 4}) — full parity with the
reference's PRTree2D/3D/4D class family (python_bindings.cc:18-408).

Column convention for D dims: min0..min{D-1}, max0..max{D-1}.

Spatial routing uses the FIRST TWO dimensions only (cells route, they never
decide): the closed-interval predicate is evaluated over all D dimensions,
so results are exact for any D. This mirrors how the reference's own tree
shape is irrelevant to results — its predicate (bounding_box.h:104-123) is
the only arbiter there too. Routing on 2 of D dims trades some pruning
power in z/w for a radically simpler partitioner; at 100 TB the first two
dims carry the partition key and Catalyst prunes on them.

Both physical strategies are honored (cfg.strategy / _pick_strategy, same
selector as 2D): 'sql' = exploded-cell equi-join in whole-stage codegen;
'packed' = the PBSM single-shuffle mapInArrow path with per-cell STRPack
over dims 0-1, salted hot cells, and in-kernel refinement of the carried
dims 2..D-1 — the scale path when per-cell candidate products are large
(e.g. z/w-dense data stacking many boxes into one xy cell).

float32 inputs are upcast to float64 before comparison — exact (every
float32 is representable), so float32/float64 families behave like the
reference's dtype dispatch (core.py:119-145).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from python_prtree_spark.config import DEFAULT_CONFIG, EngineConfig
from python_prtree_spark.functions.tiling import explode_cells, ref_cell_sql
from python_prtree_spark.operators.probe import _pick_strategy, resolve_geometry

__all__ = ["batch_query_nd", "query_intersections_nd", "box_cols"]


def box_cols(dims: int) -> list[str]:
    return [f"min{d}" for d in range(dims)] + [f"max{d}" for d in range(dims)]


def _as2d(df: DataFrame, id_col: str, dims: int, keep_extra: bool) -> DataFrame:
    """Project the first two dims onto the 2D routing names, carrying the
    full-D coordinates along."""
    cols = [
        F.col(id_col),
        F.col("min0").cast("double").alias("xmin"),
        F.col("min1").cast("double").alias("ymin"),
        F.col("max0").cast("double").alias("xmax"),
        F.col("max1").cast("double").alias("ymax"),
    ]
    if keep_extra:
        for d in range(2, dims):
            cols += [
                F.col(f"min{d}").cast("double").alias(f"min{d}"),
                F.col(f"max{d}").cast("double").alias(f"max{d}"),
            ]
    return df.select(*cols)


def _extra_pred(a: str, b: str, dims: int) -> Column:
    pred = F.lit(True)
    for d in range(2, dims):
        pred = pred & (
            (F.col(f"{a}_min{d}") <= F.col(f"{b}_max{d}"))
            & (F.col(f"{b}_min{d}") <= F.col(f"{a}_max{d}"))
        )
    return pred


def batch_query_nd(
    data_df: DataFrame,
    query_df: DataFrame,
    dims: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
    data_id: str = "id",
    query_id: str = "qid",
    n_data_hint: int | None = None,
) -> DataFrame:
    """D-dimensional batch box-overlap probe → (query_id, data_id) pairs.
    Exact for any D; closed intervals in every dimension."""
    if not 2 <= dims <= 4:
        raise ValueError("dims must be 2, 3, or 4 (reference parity)")
    d2 = _as2d(data_df, data_id, dims, keep_extra=True)
    q2 = _as2d(query_df, query_id, dims, keep_extra=True)
    cfg, _n = resolve_geometry(
        d2.select(data_id, "xmin", "ymin", "xmax", "ymax"), cfg, n_data_hint
    )
    dc = explode_cells(d2, cfg.extent, cfg.level)
    qc = explode_cells(q2, cfg.extent, cfg.level)

    if _pick_strategy(cfg, _n) == "packed":
        # PBSM single-shuffle mapInArrow, same physical plan as the 2D
        # packed path: ONE exchange on (cell[, salt]) + in-partition sort;
        # the STRPack probes dims 0-1 and the Arrow kernel refines the
        # closed-interval predicate on the carried dims 2..D-1. Hot cells
        # are salted exactly like 2D (z/w-dense skew lands on the same
        # 2D cells, so the same histogram catches it).
        from python_prtree_spark.operators.probe import _batch_query_packed, _hot_cells

        salt = _hot_cells(dc, cfg, _n)
        return _batch_query_packed(
            dc, qc, cfg, data_id, query_id, salt, extra_dims=dims - 2
        )

    extra = [c for c in dc.columns if c.startswith(("min", "max"))]
    d = dc.select(
        F.col(data_id).alias("_did"), "cell",
        *[F.col(c).alias(f"d_{c}") for c in ("xmin", "ymin", "xmax", "ymax", *extra)],
    )
    q = qc.select(
        F.col(query_id).alias("_qid"), "cell",
        *[F.col(c).alias(f"q_{c}") for c in ("xmin", "ymin", "xmax", "ymax", *extra)],
    )
    pred = (
        (F.col("q_xmin") <= F.col("d_xmax")) & (F.col("d_xmin") <= F.col("q_xmax"))
        & (F.col("q_ymin") <= F.col("d_ymax")) & (F.col("d_ymin") <= F.col("q_ymax"))
        & _extra_pred("q", "d", dims)
    )
    ref = F.expr(ref_cell_sql(
        "q_xmin", "q_ymin", "d_xmin", "d_ymin", cfg.extent, cfg.level,
    ))
    return (
        q.join(d, on="cell")
        .where(pred & (ref == F.col("cell")))
        .select(F.col("_qid").alias(query_id), F.col("_did").alias(data_id))
    )


def query_intersections_nd(
    data_df: DataFrame,
    dims: int,
    cfg: EngineConfig = DEFAULT_CONFIG,
    data_id: str = "id",
    n_data_hint: int | None = None,
) -> DataFrame:
    """D-dimensional self-join: all pairs (id_a < id_b), each once."""
    qdf = data_df.select(F.col(data_id).alias("_qid_self"), *box_cols(dims))
    pairs = batch_query_nd(data_df, qdf, dims, cfg, data_id=data_id,
                           query_id="_qid_self", n_data_hint=n_data_hint)
    return (
        pairs.where(F.col("_qid_self") < F.col(data_id))
        .select(F.col("_qid_self").alias("id_a"), F.col(data_id).alias("id_b"))
    )
