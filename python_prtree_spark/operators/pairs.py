"""query_intersections — distributed spatial self-join.

Reference semantics: all pairs (i, j), i < j, of mutually intersecting data
boxes, each pair exactly once (/root/reference/include/prtree/core/
prtree.h:839-958; dedup by id order at :890-894). Our distributed
anti-duplication composes two rules:

  * ``id_a < id_b``  — the reference's canonical pair order, and
  * the reference-point rule — a pair is emitted only in the cell holding
    the min-corner of its intersection — which removes cross-cell
    duplicates without any dedup shuffle.

Same two physical strategies as batch_query. Hot cells in the packed
(Arrow) path are SHARD-PAIR SALTED (VERDICT r2 item 3): a cell whose
build-side histogram exceeds ``cfg.salt_threshold`` is split into S id
shards and its self-join decomposed into S(S+1)/2 independent partition
keys (cell, ka, kb), ka <= kb — diagonal keys self-probe one shard,
off-diagonal keys probe shard kb against a pack of shard ka — so a hot
cell's quadratic candidate work spreads over many tasks instead of
landing whole on one Python worker. Replication cost: S copies per hot
row, hot cells only. The SQL path leans on AQE's skew-join splitting for
the same shape (both join sides are cell-partitioned sort-merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_prtree_spark.config import DEFAULT_CONFIG, EngineConfig
from python_prtree_spark.functions.tiling import cell_of_point_np, explode_cells
from python_prtree_spark.operators.probe import BOX, _hot_cells, _ov_ref_sql, _route
from python_prtree_spark.operators.strpack import STRPack

__all__ = ["query_intersections"]


def _pairs_sql(data_c: DataFrame, cfg: EngineConfig, data_id: str) -> DataFrame:
    """JVM self-join on cell. Skew note: both sides arrive cell-partitioned
    into a sort-merge join, the shape AQE's OptimizeSkewedJoin splits at
    runtime — no manual salting layer on this path."""
    a = data_c.selectExpr(
        f"`{data_id}` AS id_a", "`cell`",
        *[f"`{c}` AS a_{c}" for c in BOX],
    )
    b = data_c.selectExpr(
        f"`{data_id}` AS id_b", "`cell`",
        *[f"`{c}` AS b_{c}" for c in BOX],
    )
    return (
        a.join(b, on="cell")
        .where(F.expr(f"id_a < id_b AND {_ov_ref_sql(cfg, 'a', 'b')}"))
        .select("id_a", "id_b")
    )


def _salted_cells(
    data_c: DataFrame, cfg: EngineConfig, n_data: int | None, data_id: str
) -> DataFrame:
    """Exploded cell rows with self-join shard keys (ka, kb, role).

    Cold cells carry the single key (0, 0, role=0). A hot cell (build-side
    histogram > salt_threshold, estimated by _hot_cells' deterministic
    sampled pass) assigns each row shard s = pmod(xxhash64(id), S) and
    replicates it S times across partition keys, unordered-pair style:

      * role A (pack side):  (ka=s,  kb=b) for every b in [s, S)
      * role B (probe side): (ka=a,  kb=s) for every a in [0, s)

    so partition (ka, kb), ka < kb, holds shard ka as the pack and shard
    kb as probes — every cross-shard pair meets in exactly ONE key — and
    the diagonal (s, s) holds shard s once (role A) for a plain
    self-probe. Total candidate work stays ~m²/2; it just lands on
    S(S+1)/2 tasks instead of one."""
    base = data_c.select(F.col(data_id).alias("_did"), "cell", *BOX)
    hot = _hot_cells(base, cfg, n_data)
    if hot is None:
        return base.select(
            "_did", "cell", *BOX,
            F.lit(0).alias("ka"), F.lit(0).alias("kb"), F.lit(0).alias("role"),
        )
    base = base.join(F.broadcast(hot), on="cell", how="left")
    s = F.pmod(F.xxhash64("_did"), F.col("n_salts")).cast("int")
    S = F.col("n_salts")
    a_role = F.transform(
        F.sequence(s, S - F.lit(1)),
        lambda b: F.struct(
            s.alias("ka"), b.cast("int").alias("kb"), F.lit(0).alias("role")
        ),
    )
    b_role = F.transform(
        F.filter(F.sequence(F.lit(0), S - F.lit(1)), lambda a: a < s),
        lambda a: F.struct(
            a.cast("int").alias("ka"), s.alias("kb"), F.lit(1).alias("role")
        ),
    )
    reps = F.when(
        F.col("n_salts").isNull(),
        F.array(F.struct(
            F.lit(0).alias("ka"), F.lit(0).alias("kb"), F.lit(0).alias("role")
        )),
    ).otherwise(F.concat(a_role, b_role))
    return (
        base.withColumn("rep", F.explode(reps))
        .select("_did", "cell", *BOX, "rep.ka", "rep.kb", "rep.role")
    )


def _make_pairs_stream(cfg: EngineConfig):
    """Streaming mapInArrow over partitions sorted by (cell, ka, kb, role):
    one Arrow stream per partition (no per-group batches, no pandas).
    Diagonal segments (ka == kb) self-probe their STRPack and keep
    id_probe < id_data; off-diagonal segments build the pack from role-A
    rows and probe with role-B rows (every cross-shard pair found exactly
    once, ids normalized to (min, max)). The reference-point rule then
    removes cross-CELL duplicates exactly as in the unsalted plan. Output
    leaves as large zero-copy RecordBatches."""
    extent, level, leaf_size = cfg.extent, cfg.level, cfg.leaf_size

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        buf_a: list = []
        buf_b: list = []
        buf_rows = 0

        def flush():
            nonlocal buf_rows
            rb = pa.record_batch(
                [pa.array(np.concatenate(buf_a)), pa.array(np.concatenate(buf_b))],
                names=["id_a", "id_b"],
            )
            buf_a.clear()
            buf_b.clear()
            buf_rows = 0
            return rb

        def emit(cell, qboxes, dboxes, ia, ib, qi, pos):
            """Apply the reference-point cell rule and buffer pairs."""
            nonlocal buf_rows
            refx = np.maximum(qboxes[qi, 0], dboxes[pos, 0])
            refy = np.maximum(qboxes[qi, 1], dboxes[pos, 1])
            keep = (cell_of_point_np(refx, refy, extent, level) == cell) & (ia != ib)
            if not keep.any():
                return
            buf_a.append(np.minimum(ia[keep], ib[keep]))
            buf_b.append(np.maximum(ia[keep], ib[keep]))
            buf_rows += int(keep.sum())

        def process(tbl):
            cells = tbl.column("cell").to_numpy()
            kas = tbl.column("ka").to_numpy()
            kbs = tbl.column("kb").to_numpy()
            roles = tbl.column("role").to_numpy()
            coords = np.column_stack([tbl.column(c).to_numpy() for c in BOX])
            ids = tbl.column("_did").to_numpy(zero_copy_only=False)
            n = len(cells)
            new = np.flatnonzero(
                (np.diff(cells) != 0) | (np.diff(kas) != 0) | (np.diff(kbs) != 0)
            ) + 1
            bounds = np.concatenate([[0], new, [n]])
            for a, b in zip(bounds[:-1], bounds[1:]):
                if b - a < 2:
                    continue
                cell = int(cells[a])
                if kas[a] == kbs[a]:
                    # diagonal: plain self-probe among the segment's rows
                    boxes = coords[a:b]
                    seg_ids = ids[a:b]
                    pack = STRPack(np.arange(b - a), boxes, leaf_size)
                    qi, pos = pack.query(boxes)
                    ia, ib = seg_ids[qi], seg_ids[pack.ids[pos]]
                    keep = ia < ib
                    emit(cell, boxes, pack.boxes,
                         ia[keep], ib[keep], qi[keep], pos[keep])
                else:
                    # off-diagonal: pack shard ka (role A), probe shard kb
                    am = roles[a:b] == 0
                    if not am.any() or am.all():
                        continue  # a shard came up empty → no cross pairs
                    aboxes, abids = coords[a:b][am], ids[a:b][am]
                    bboxes, bbids = coords[a:b][~am], ids[a:b][~am]
                    pack = STRPack(np.arange(len(abids)), aboxes, leaf_size)
                    qi, pos = pack.query(bboxes)
                    if not len(qi):
                        continue
                    ia, ib = bbids[qi], abids[pack.ids[pos]]
                    emit(cell, bboxes, pack.boxes, ia, ib, qi, pos)

        carry = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            if tbl.num_rows == 0:
                continue
            cells = tbl.column("cell").to_numpy()
            kas = tbl.column("ka").to_numpy()
            kbs = tbl.column("kb").to_numpy()
            last = (
                (cells == cells[-1]) & (kas == kas[-1]) & (kbs == kbs[-1])
            )
            cut = int(len(cells) - last.sum())  # sorted → `last` is a suffix
            carry = tbl.slice(cut)
            if cut > 0:
                process(tbl.slice(0, cut))
                if buf_rows >= 1 << 19:
                    yield flush()
        if carry is not None and carry.num_rows:
            process(carry)
        if buf_rows:
            yield flush()

    return fn


def query_intersections(
    data_df: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    data_id: str = "id",
    n_data_hint: int | None = None,
) -> DataFrame:
    """All intersecting pairs (id_a < id_b), each exactly once."""
    slim = data_df.select(data_id, *BOX)
    cfg, n_data, strategy = _route(slim, None, cfg, n_data_hint)
    data_c = explode_cells(slim, cfg.extent, cfg.level)
    if strategy == "sql":
        return _pairs_sql(data_c, cfg, data_id)
    it = data_c.schema[data_id].dataType.simpleString()
    salted = _salted_cells(data_c, cfg, n_data, data_id)
    return (
        salted.repartition(F.col("cell"), F.col("ka"), F.col("kb"))
        .sortWithinPartitions("cell", "ka", "kb", "role")
        .mapInArrow(_make_pairs_stream(cfg), schema=f"id_a {it}, id_b {it}")
    )
