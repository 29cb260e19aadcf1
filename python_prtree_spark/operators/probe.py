"""batch_query — the workhorse: a distributed box-overlap (range) join.

Reference semantics: for each query box, the id-set of data boxes it
intersects under closed intervals (/root/reference/src/python_prtree/
core.py:607-687, find_all at prtree.h:587-729). Point probes are degenerate
boxes (prtree.h:596-615). Single-probe results sort ascending
(prtree.h:786); we sort in the array form.

This module is the ONE place a box-overlap join is routed and written, at
every dimension (the reference's D is a template parameter of one
``PRTree``, prtree.h:64). ``batch_query``, ``batch_query_payload``,
``pairs.query_intersections`` and ``nd.batch_query_nd`` all decide their
strategy through ``_route`` (zero-job tiny shortcut → resolve_geometry →
``_pick_strategy``), and the 'sql' cell join is ``_batch_query_sql`` alone.
Cells route on dims 0-1; nd callers carry dims 2..D-1 (``_carried_cols``)
through both strategies, where the closed-interval predicate refines them.

Two physical strategies, both exact and both duplicate-free WITHOUT a
post-join dedup shuffle (reference-point rule — a pair is emitted only in
the cell holding the min-corner of its intersection):

  * 'sql'    — explode covering cells on both sides → equi-join on cell →
               AABB + reference-point filter. 100% JVM whole-stage codegen;
               Catalyst broadcasts the small side; AQE handles join skew.
               Best when per-cell candidate products are modest.
  * 'packed' — PBSM single-shuffle: tag + union both sides, ONE exchange
               on (cell[, salt]) with an in-partition sort, then a
               mapInArrow stream builds an STRPack per cell and probes it
               vectorized (no pandas, no per-group batches; output pairs
               leave Python as large zero-copy RecordBatches). Avoids
               materializing per-cell cross products; hot cells are salted
               (build rows hash-split, probes replicated) so one Python
               worker never holds more than ~salt_threshold rows — the
               explicit skew handling the north rule requires.

Both scale: the shuffle key is the cell id, partition pruning applies on a
persisted index, and nothing ever collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_prtree_spark.config import DEFAULT_CONFIG, EngineConfig, Extent
from python_prtree_spark.functions.geometry import aabb_intersects_np
from python_prtree_spark.functions.tiling import (
    cell_of_point_np,
    explode_cells,
    ref_cell_sql,
)
from python_prtree_spark.operators.strpack import STRPack

__all__ = ["batch_query", "batch_query_array", "point_query", "resolve_geometry"]

BOX = ["xmin", "ymin", "xmax", "ymax"]


def _carried_cols(dims: int) -> list[str]:
    """The coordinate columns carried past the 2D routing plane for dims
    > 2: min2, max2[, min3, max3] (nd naming, operators/nd.py)."""
    return [f"{mm}{d}" for d in range(2, dims) for mm in ("min", "max")]


def resolve_geometry(
    data_df: DataFrame, cfg: EngineConfig, n_hint: int | None = None
) -> tuple[EngineConfig, int]:
    """Fill in extent/level from the data when not configured.

    One columnar aggregate pass; at 100 TB callers should pass explicit
    extent+level (table-level stats) to skip it."""
    n = n_hint
    if cfg.extent is None or (cfg.level is None and n is None):
        aggs = []
        if n is None:
            aggs.append(F.count(F.lit(1)).alias("n"))
        if cfg.extent is None:
            aggs += [
                F.min("xmin").alias("x0"), F.min("ymin").alias("y0"),
                F.max("xmax").alias("x1"), F.max("ymax").alias("y1"),
            ]
        row = data_df.agg(*aggs).collect()[0].asDict()
        n = n if n is not None else int(row["n"])
        if cfg.extent is None:
            if row["x0"] is None:  # empty table
                cfg = cfg.with_(extent=Extent())
            else:
                # pad so max-edge coordinates land strictly inside
                w = max(row["x1"] - row["x0"], 1e-9)
                h = max(row["y1"] - row["y0"], 1e-9)
                cfg = cfg.with_(extent=Extent(
                    row["x0"] - 1e-9 * w, row["y0"] - 1e-9 * h,
                    row["x1"] + 1e-9 * w, row["y1"] + 1e-9 * h,
                ))
    if n is None:
        n = data_df.count()
    if cfg.level is None:
        cfg = cfg.with_(level=cfg.resolve_level(n))
    return cfg, n


_TINY_PROBE_BYTES = 4 << 20  # conservative vs spark.sql.autoBroadcastJoinThreshold

# data sides whose Catalyst plan estimate is under this resolve straight to
# the 'sql' strategy with ZERO pre-jobs: a <=4 MB source is far below the
# ~1M-row sql/packed crossover however it decompresses, the sql path never
# uses the row count, and salting does not exist on it — so neither the
# resolve_geometry count() nor the hot-cell histogram needs to run
_TINY_DATA_BYTES = 4 << 20


def _pick_strategy(cfg: EngineConfig, n_data: int,
                   query_df: DataFrame | None = None) -> str:
    if cfg.strategy != "auto":
        return cfg.strategy
    # per-cell products stay small below ~1M rows at auto level → pure SQL
    if n_data <= 1_000_000:
        return "sql"
    # Big build side + TINY probe side: the 'sql' cell equi-join broadcasts
    # the probes and the big side is scanned with ZERO exchange — strictly
    # better than PBSM's two-sided shuffle (never move 100 TB to answer a
    # small probe batch). Decided from Catalyst's own size estimate of the
    # probe plan — no job is scheduled.
    if query_df is not None:
        from python_prtree_spark.plans.explain import plan_size_estimate

        est = plan_size_estimate(query_df)
        if est is not None and est <= _TINY_PROBE_BYTES:
            return "sql"
        # estimation unavailable / large → keep the scale default
    return "packed"


def _route(slim: DataFrame, query_df: DataFrame | None, cfg: EngineConfig,
           n_hint: int | None) -> tuple[EngineConfig, int | None, str]:
    """The one strategy decision of every box-overlap join → (resolved cfg,
    data row count, 'sql' | 'packed'). `slim` is the (id, xmin..ymax) data
    side; `query_df` is None for a self-join.

    With geometry fully configured, strategy 'auto' and no exact count,
    a data side whose Catalyst plan estimate is under _TINY_DATA_BYTES
    takes 'sql' with ZERO jobs and n = None (an explicit hint keeps the
    precise crossover decision). Otherwise resolve_geometry fills in
    extent/level/n and _pick_strategy decides."""
    if (cfg.strategy == "auto" and cfg.extent is not None
            and cfg.level is not None and n_hint is None):
        from python_prtree_spark.plans.explain import plan_size_estimate

        est = plan_size_estimate(slim)
        if est is not None and est <= _TINY_DATA_BYTES:
            return cfg, None, "sql"
    cfg, n = resolve_geometry(slim, cfg, n_hint)
    return cfg, n, _pick_strategy(cfg, n, query_df)


# ---------------------------------------------------------------------------
# 'sql' strategy — pure JVM
# ---------------------------------------------------------------------------

def _ov_ref_sql(cfg: EngineConfig, a: str, b: str, carried: list[str] = ()) -> str:
    """Overlap predicate + reference-point rule between `{a}_*` and `{b}_*`
    box columns, as ONE SQL string (identical parsed tree to the Column
    form; string-built because it sits on every join's construction path).
    `carried` (from _carried_cols) appends the closed-interval refine on
    dims 2..D-1."""
    ref = ref_cell_sql(f"{a}_xmin", f"{a}_ymin", f"{b}_xmin", f"{b}_ymin",
                       cfg.extent, cfg.level)
    return " AND ".join([
        f"`{a}_xmin` <= `{b}_xmax` AND `{b}_xmin` <= `{a}_xmax` AND "
        f"`{a}_ymin` <= `{b}_ymax` AND `{b}_ymin` <= `{a}_ymax` AND "
        f"({ref}) = `cell`",
        *[f"`{a}_{lo}` <= `{b}_{hi}` AND `{b}_{lo}` <= `{a}_{hi}`"
          for lo, hi in zip(carried[::2], carried[1::2])],
    ])


def _batch_query_sql(
    data_c: DataFrame, query_c: DataFrame, cfg: EngineConfig,
    data_id: str, query_id: str, carried: list[str] = (),
    q_payload: list[str] = (), box_out: bool = False,
) -> DataFrame:
    """The cell equi-join. `carried` dims are refined in the predicate;
    `box_out` projects the data box (plain xmin..ymax) and `q_payload`
    probe columns ride the join untouched."""
    d = data_c.selectExpr(
        f"`{data_id}` AS _did", "`cell`",
        *[f"`{c}` AS d_{c}" for c in (*BOX, *carried)],
    )
    q = query_c.selectExpr(
        f"`{query_id}` AS _qid", "`cell`",
        *[f"`{c}` AS q_{c}" for c in (*BOX, *carried)],
        *[f"`{c}`" for c in q_payload],
    )
    return (
        q.join(d, on="cell")
        .where(F.expr(_ov_ref_sql(cfg, "q", "d", carried)))
        .selectExpr(
            f"_qid AS `{query_id}`", f"_did AS `{data_id}`",
            *[f"d_{c} AS `{c}`" for c in (BOX if box_out else ())],
            *[f"`{c}`" for c in q_payload],
        )
    )


# ---------------------------------------------------------------------------
# 'packed' strategy — PBSM single-shuffle mapInArrow with per-cell STRPack
# ---------------------------------------------------------------------------
#
# Both sides are tagged and unioned, shuffled ONCE on (cell[, salt]) and
# sorted within partitions by (key, side); a mapInArrow stream then walks
# the partition cell by cell — build STRPack from the side-0 run, probe the
# side-1 run, emit pairs. Compared to cogrouped applyInPandas this removes
# (a) one of the two shuffles' worth of machinery, (b) the per-GROUP Arrow
# batch + pandas DataFrame overhead (one Arrow stream per partition
# instead), and (c) pandas entirely — output pairs leave Python as large
# zero-copy RecordBatches. Memory per task = one Arrow batch + one carried
# cell, never a whole partition (hot cells are salted below the threshold).

_OUT_BATCH_ROWS = 1 << 19


def _make_pbsm_fn(cfg: EngineConfig, with_salt: bool, carried: list[str] = ()):
    """`carried` (from _carried_cols): the unioned rows also carry the
    min{d}/max{d} columns of dims 2..D-1 — the closed-interval predicate is
    refined on those after the 2D STRPack probe (ND parity: cells route on
    dims 0-1, the predicate decides on ALL dims; reference
    bounding_box.h:104-123)."""
    extent, level, leaf_size = cfg.extent, cfg.level, cfg.leaf_size
    extra_cols = list(carried)
    extra_dims = len(extra_cols) // 2

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        buf_q: list = []
        buf_d: list = []
        buf_rows = 0

        def one_chunk(tbl, name):
            ca = tbl.column(name)
            if ca.num_chunks == 1:
                return ca.chunk(0)
            return pa.concat_arrays(ca.chunks) if ca.num_chunks else pa.array([], ca.type)

        def flush():
            nonlocal buf_rows
            rb = pa.record_batch(
                [pa.array(np.concatenate(buf_q)), pa.array(np.concatenate(buf_d))],
                names=["_q", "_d"],
            )
            buf_q.clear()
            buf_d.clear()
            buf_rows = 0
            return rb

        def process(tbl):
            """Buffer pairs from one or more COMPLETE key-groups (sorted by
            key, then side)."""
            nonlocal buf_rows
            cells = tbl.column("cell").to_numpy()
            side = tbl.column("side").to_numpy()
            coords = np.column_stack([tbl.column(c).to_numpy() for c in BOX])
            extra = (
                np.column_stack([tbl.column(c).to_numpy() for c in extra_cols])
                if extra_dims else None
            )
            qid_col = one_chunk(tbl, "_qid")
            did_col = one_chunk(tbl, "_did")
            if with_salt:
                salts = tbl.column("salt").to_numpy()
                new = np.flatnonzero((np.diff(cells) != 0) | (np.diff(salts) != 0)) + 1
            else:
                new = np.flatnonzero(np.diff(cells) != 0) + 1
            bounds = np.concatenate([[0], new, [len(cells)]])
            for a, b in zip(bounds[:-1], bounds[1:]):
                mid = a + int(np.searchsorted(side[a:b], 1))
                if mid == a or mid == b:
                    continue  # no data rows or no probe rows in this cell
                cell = int(cells[a])
                dboxes = coords[a:mid]
                qboxes = coords[mid:b]
                pack = STRPack(np.arange(mid - a), dboxes, leaf_size)
                qi, pos = pack.query(qboxes)
                if len(qi) == 0:
                    continue
                refx = np.maximum(qboxes[qi, 0], pack.boxes[pos, 0])
                refy = np.maximum(qboxes[qi, 1], pack.boxes[pos, 1])
                keep = cell_of_point_np(refx, refy, extent, level) == cell
                if extra_dims:
                    dorig = pack.ids[pos]  # back to pre-STR row order
                    dx = extra[a:mid]
                    qx = extra[mid:b]
                    for d in range(extra_dims):
                        keep &= (qx[qi, 2 * d] <= dx[dorig, 2 * d + 1]) & (
                            dx[dorig, 2 * d] <= qx[qi, 2 * d + 1]
                        )
                if not keep.any():
                    continue
                qv = qid_col.slice(mid, b - mid).to_numpy(zero_copy_only=False)
                dv = did_col.slice(a, mid - a).to_numpy(zero_copy_only=False)
                buf_q.append(qv[qi[keep]])
                buf_d.append(dv[pack.ids[pos[keep]]])
                buf_rows += int(keep.sum())

        carry: pa.Table | None = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            if tbl.num_rows == 0:
                continue
            cells = tbl.column("cell").to_numpy()
            cut = int(np.searchsorted(cells, cells[-1], side="left"))
            if with_salt:
                salts = tbl.column("salt").to_numpy()
                # within the trailing cell, back up to the start of its
                # trailing salt run
                cut += int(np.searchsorted(salts[cut:], salts[-1], side="left"))
            carry = tbl.slice(cut)
            if cut > 0:
                process(tbl.slice(0, cut))
                if buf_rows >= _OUT_BATCH_ROWS:
                    yield flush()
        if carry is not None and carry.num_rows:
            process(carry)
        if buf_rows:
            yield flush()

    return fn


def _batch_query_packed(
    data_c: DataFrame, query_c: DataFrame, cfg: EngineConfig,
    data_id: str, query_id: str, salt_counts: DataFrame | None,
    carried: list[str] = (),
) -> DataFrame:
    qt = query_c.schema[query_id].dataType.simpleString()
    dt = data_c.schema[data_id].dataType.simpleString()
    d = data_c.select(
        F.lit(0).alias("side"), "cell",
        F.col(data_id).cast(dt).alias("_did"),
        F.lit(None).cast(qt).alias("_qid"), *BOX, *carried,
    )
    q = query_c.select(
        F.lit(1).alias("side"), "cell",
        F.lit(None).cast(dt).alias("_did"),
        F.col(query_id).cast(qt).alias("_qid"), *BOX, *carried,
    )
    keys = ["cell"]
    if salt_counts is not None:
        # salt_counts: (cell, n_salts) for hot cells only — tiny, broadcast
        d = (
            d.join(F.broadcast(salt_counts), on="cell", how="left")
            .withColumn("salt", F.when(F.col("n_salts").isNull(), F.lit(0))
                        .otherwise(F.pmod(F.xxhash64("_did"), F.col("n_salts"))).cast("int"))
            .drop("n_salts")
        )
        q = (
            q.join(F.broadcast(salt_counts), on="cell", how="left")
            .withColumn("salt", F.explode(F.sequence(
                F.lit(0), F.coalesce(F.col("n_salts"), F.lit(1)) - 1)))
            .withColumn("salt", F.col("salt").cast("int"))
            .drop("n_salts")
        )
        keys = ["cell", "salt"]
    u = d.unionByName(q)
    out = (
        u.repartition(*[F.col(k) for k in keys])
        .sortWithinPartitions(*keys, "side")
        .mapInArrow(_make_pbsm_fn(cfg, salt_counts is not None, carried),
                    schema=f"_q {qt}, _d {dt}")
    )
    return out.select(F.col("_q").alias(query_id), F.col("_d").alias(data_id))


def _hot_cells(data_c: DataFrame, cfg: EngineConfig,
               n_data: int | None = None) -> DataFrame | None:
    """Per-cell build-side histogram → (cell, n_salts) for cells exceeding
    the salt threshold. Returns None when nothing is hot.

    When the table's live row count is known and <= hist_skip_factor *
    salt_threshold, the histogram pass is skipped entirely: below
    salt_threshold no cell can possibly be hot (a row lands in a covering
    cell at most once); between 1x and hist_skip_factor-x the worst case
    (every row in one cell) is a single bounded task of a few hundred k
    rows — a straggler cheaper than the histogram job that would detect
    it (salting is balance-only, never correctness).

    Above that, the histogram is ESTIMATED from a deterministic 1/d row
    sample (d up to 64): a hot cell has >= threshold member rows, so
    row-sampling is an unbiased per-cell count estimator with thousands of
    expected samples per hot cell — ample to decide hot-or-not. The sample
    predicate hashes only the pre-explode id column, so Catalyst pushes it
    BELOW the cell explode: the pass reads 1/d of the rows instead of
    re-scanning the table (never pay a second full pass over 100 TB to
    find skew; with persisted per-cell lineage metrics, pass those
    instead). Salting never affects results — a missed borderline-hot cell
    costs balance, not correctness. xxhash64 (not df.sample) keeps the
    decision identical across runs, retries, and stage re-executions."""
    if n_data is not None and n_data <= cfg.salt_threshold * max(
        1, cfg.hist_skip_factor
    ):
        return None
    d = 16 if n_data is None else max(1, min(64, n_data // cfg.salt_threshold))
    id_col = next(
        (c for c in data_c.columns
         if c not in ("cell", "salt", *BOX) and not c.startswith(("min", "max"))),
        data_c.columns[0],  # any deterministic column works as sample key
    )
    src = data_c
    if d > 1:
        src = data_c.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(d)) == 0)
    hot = (
        src.groupBy("cell").count()
        .withColumn("est", F.col("count") * d)
        .where(F.col("est") > cfg.salt_threshold)
        .select(
            "cell",
            F.least(
                F.lit(cfg.max_salts),
                F.ceil(F.col("est") / cfg.salt_threshold).cast("int"),
            ).alias("n_salts"),
        )
        # the emptiness probe below materializes the histogram; the lazy
        # local checkpoint lets the subsequent broadcast reuse that work
        # instead of re-running the sampled pass
        .localCheckpoint(eager=False)
    )
    return hot if hot.limit(1).count() > 0 else None


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def _box_join(
    data_df: DataFrame, query_df: DataFrame, cfg: EngineConfig,
    data_id: str, query_id: str, n_data_hint: int | None,
    carried: list[str] = (),
) -> DataFrame:
    """Route, explode and join: the body of batch_query at every D.
    `carried` columns ride both strategies and refine the predicate."""
    cfg, n_data, strategy = _route(
        data_df.select(data_id, *BOX), query_df, cfg, n_data_hint
    )
    data_c = explode_cells(data_df.select(data_id, *BOX, *carried), cfg.extent, cfg.level)
    query_c = explode_cells(query_df.select(query_id, *BOX, *carried), cfg.extent, cfg.level)
    if strategy == "sql":
        return _batch_query_sql(data_c, query_c, cfg, data_id, query_id, carried)
    salt = _hot_cells(data_c, cfg, n_data)
    return _batch_query_packed(data_c, query_c, cfg, data_id, query_id, salt, carried)


def batch_query(
    data_df: DataFrame,
    query_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    data_id: str = "id",
    query_id: str = "qid",
    n_data_hint: int | None = None,
) -> DataFrame:
    """Distributed batch box-overlap probe → duplicate-free (query_id,
    data_id) pairs. Exact closed-interval semantics; no post-join dedup.

    n_data_hint CONTRACT: pass the EXACT live row count or None. The hint
    skips the count pass AND (when <= salt_threshold) the hot-cell salting
    histogram — an underestimate silently disables skew salting (results
    stay exact; one Python worker may eat a whole hot cell). PRTreeTable
    threads exact counts; external callers who merely estimate must pass
    None."""
    return _box_join(data_df, query_df, cfg, data_id, query_id, n_data_hint)


def batch_query_payload(
    data_df: DataFrame,
    query_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    data_id: str = "id",
    query_id: str = "qid",
    n_data_hint: int | None = None,
    q_payload: "tuple[str, ...] | list[str]" = (),
) -> "tuple[DataFrame | None, int | None]":
    """Fused variant of ``batch_query`` for refine-style callers
    (distance_join and friends) that would otherwise join the pair table
    back to both inputs to recover coordinates. When the resolved strategy
    is 'sql', returns the SAME duplicate-free pair set with the data box
    (plain ``xmin..ymax``) and the named probe-side payload columns carried
    through the one cell equi-join — zero join-backs, all values riding the
    join bit-untouched. Returns (None, n_data) when the packed strategy is
    resolved (payload cannot ride the Arrow kernel); the caller falls back
    to ``batch_query`` + join-backs, passing n_data as the hint so the
    count is not paid twice.

    → (pairs-with-payload DataFrame or None, resolved n_data; None when
    the zero-job shortcut took 'sql')."""
    q_payload = list(q_payload)
    slim = data_df.select(data_id, *BOX)
    cfg, n_data, strategy = _route(slim, query_df, cfg, n_data_hint)
    if strategy != "sql":
        return None, n_data
    data_c = explode_cells(slim, cfg.extent, cfg.level)
    query_c = explode_cells(
        query_df.select(query_id, *BOX, *q_payload), cfg.extent, cfg.level
    )
    return _batch_query_sql(
        data_c, query_c, cfg, data_id, query_id,
        q_payload=q_payload, box_out=True,
    ), n_data


def _hits_array(pairs: DataFrame, query_df: DataFrame,
                data_id: str, query_id: str) -> DataFrame:
    """The array form of a pair table (see batch_query_array)."""
    agg = pairs.groupBy(query_id).agg(
        F.sort_array(F.collect_list(data_id)).alias("ids")
    )
    return (
        query_df.select(query_id)
        .join(agg, on=query_id, how="left")
        .select(
            query_id,
            F.coalesce(F.size("ids"), F.lit(0)).alias("n_hits"),
            F.coalesce("ids", F.array().cast("array<long>")).alias("ids"),
        )
    )


def batch_query_array(
    data_df: DataFrame,
    query_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    data_id: str = "id",
    query_id: str = "qid",
) -> DataFrame:
    """Array form mirroring the reference's batch_query_array
    (prtree.h:731-733): (query_id, n_hits, ids sorted ascending); queries
    with no hits appear with an empty array, like the reference's empty
    inner lists."""
    pairs = batch_query(data_df, query_df, cfg, data_id, query_id)
    return _hits_array(pairs, query_df, data_id, query_id)


def _points_as_boxes(points_df: DataFrame, query_id: str, dims: int = 2,
                     x: str = "x", y: str = "y") -> DataFrame:
    """Point probes → degenerate boxes (reference prtree.h:596-615,
    743-754). 2D reads `x`/`y` into xmin..ymax; dims > 2 reads
    p0..p{D-1} into the nd names min0..max{D-1}."""
    if dims == 2:
        coords = [(x, "xmin"), (y, "ymin"), (x, "xmax"), (y, "ymax")]
    else:
        coords = [(f"p{d}", f"{mm}{d}") for mm in ("min", "max") for d in range(dims)]
    return points_df.select(query_id, *[F.col(p).alias(c) for p, c in coords])


def point_query(
    data_df: DataFrame,
    points_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    data_id: str = "id",
    query_id: str = "qid",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Point probes = degenerate boxes (reference prtree.h:596-615,
    743-754): identical results to a zero-extent box query."""
    q = _points_as_boxes(points_df, query_id, x=x, y=y)
    return batch_query(data_df, q, cfg, data_id, query_id)
