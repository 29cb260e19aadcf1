"""N-dimensional operators (D ∈ {2, 3, 4}) — full parity with the
reference's PRTree2D/3D/4D class family (python_bindings.cc:18-408).

Column convention for D dims: min0..min{D-1}, max0..max{D-1}.

There is no nd join here. ``batch_query_nd`` projects dims 0-1 onto the 2D
routing names (``_as2d``) and hands the rest to probe.py's shared path —
the same ``_route`` decision (tiny shortcut → resolve_geometry →
``_pick_strategy``), the same 'sql' cell join and the same 'packed' PBSM
kernel as 2D — with dims 2..D-1 carried (``probe._carried_cols``) and
refined by the closed-interval predicate on both strategies. Cells route,
they never decide: the predicate is evaluated over all D dimensions, so
results are exact for any D, just as the reference's tree shape is
irrelevant to its results (bounding_box.h:104-123). Routing on 2 of D dims
trades some pruning power in z/w for one partitioner; at 100 TB the first
two dims carry the partition key and Catalyst prunes on them. z/w-dense
data stacking many boxes into one xy cell is salted by the same hot-cell
histogram as 2D.

float32 inputs are upcast to float64 before comparison — exact (every
float32 is representable), so float32/float64 families behave like the
reference's dtype dispatch (core.py:119-145).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_prtree_spark.config import DEFAULT_CONFIG, EngineConfig
from python_prtree_spark.operators.probe import BOX, _box_join, _carried_cols

__all__ = ["batch_query_nd", "query_intersections_nd", "box_cols"]


def box_cols(dims: int) -> list[str]:
    return [f"min{d}" for d in range(dims)] + [f"max{d}" for d in range(dims)]


def _as2d(df: DataFrame, id_col: str, dims: int) -> DataFrame:
    """Project the first two dims onto the 2D routing names, carrying the
    other dims along (all upcast to double)."""
    names = list(zip(["min0", "min1", "max0", "max1"], BOX))
    names += [(c, c) for c in _carried_cols(dims)]
    return df.select(
        F.col(id_col), *[F.col(src).cast("double").alias(dst) for src, dst in names]
    )


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
    return _box_join(
        _as2d(data_df, data_id, dims), _as2d(query_df, query_id, dims),
        cfg, data_id, query_id, n_data_hint, _carried_cols(dims),
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
