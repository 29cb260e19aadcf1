"""PRTreeTable — mutable spatial table with the reference's mutation
contract, on immutable DataFrames.

Reference semantics reproduced:
  * insert rejects duplicate ids (prtree.h:302-306) and validates boxes
    (prtree.h:315-321); auto-id = n+1 when omitted (core.py:454-457);
    scalar form insert(idx=None, bb=[xmin, ymin, xmax, ymax], obj=...)
    (core.py:388-470) and the bulk DataFrame form share one entry point;
  * erase of a missing id raises RuntimeError("Given index is not found")
    (prtree.h:795-799); erase-to-empty then re-insert works (core.py:239-259);
  * query(..., return_obj=True) returns payloads instead of ids
    (core.py:601-605);
  * rebuild leaves query results invariant (tests/unit/test_rebuild.py:69-94);
  * automatic re-optimization at 1.25x growth/shrink (types.h:53,
    prtree.h:411-413, 811-813) → ``needs_rebuild`` + dirty-cell tracking:
    only partitions whose cells were touched by mutations are re-packed on
    ``refresh_index`` (incremental rebuild — a MERGE-style partition rewrite,
    not a full rebuild).

Scale invariants: the dirty-cell set is a DataFrame (never collected to the
driver — a bulk mutation touching millions of cells stays distributed), and
the live row count is threaded arithmetically through snapshots (no
full-table recount per mutation; only the mutation batch itself is counted).

Bulk-build ≡ incremental-insert equivalence and pre/post-rebuild invariance
are the contracts tested by the reference's legacy suite
(tests/legacy/test_PRTree.py:75-112) and by ours.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_prtree_spark.config import DEFAULT_CONFIG, EngineConfig
from python_prtree_spark.functions.geometry import box_col_names, validate_boxes_df
from python_prtree_spark.functions.tiling import explode_cells
from python_prtree_spark.operators import probe as _probe
from python_prtree_spark.operators.pairs import query_intersections as _qi

__all__ = ["PRTreeTable"]

BOX = ["xmin", "ymin", "xmax", "ymax"]


class PRTreeTable:
    """Immutable-snapshot spatial table; every mutation returns a new
    snapshot (Spark-idiomatic MVCC) while tracking dirty cells for
    incremental index refresh.

    ``dims`` extends the full mutation surface to the reference's 3D/4D
    families (PRTree3D/4D insert/erase, core.py:774,826; the legacy suite
    runs insert_erase at 2/3/4D, tests/legacy/test_PRTree.py:75-112).
    Column convention for dims > 2 is the nd one (min0..min{D-1},
    max0..max{D-1}); spatial routing uses the first two dims (cells
    route, the full-D predicate decides — operators/nd.py), so dirty-cell
    tracking and incremental refresh semantics are dimension-independent."""

    def __init__(
        self,
        df: DataFrame,
        cfg: EngineConfig = DEFAULT_CONFIG,
        data_id: str = "id",
        dims: int = 2,
        _n_at_build: int | None = None,
        _dirty_cells: DataFrame | None = None,
        _validate: bool = True,
        _n_hint: int | None = None,
    ):
        if not 2 <= dims <= 4:
            raise ValueError("dims must be 2, 3, or 4 (reference parity)")
        self.data_id = data_id
        self.dims = dims
        mins, maxs = box_col_names(dims)
        self.box = mins + maxs
        slim = df.select(
            data_id, *self.box,
            *[c for c in df.columns if c not in ([data_id] + self.box)],
        )
        if _validate:
            validate_boxes_df(slim.select(*self.box), cfg, dims)
            dup = slim.groupBy(data_id).count().where("count > 1").limit(1).count()
            if dup:
                raise ValueError("Duplicate ids in input")
        self.df = slim
        # with a resolved cfg and an exact n hint this schedules NO job —
        # mutations thread row-count deltas instead of recounting the table
        self.cfg, self._n = _probe.resolve_geometry(
            self._xy(slim), cfg, _n_hint
        )
        self.n_at_build = _n_at_build if _n_at_build is not None else self._n
        #: DataFrame['cell'] of cells touched since the last refresh (None =
        #: clean). Kept distributed: anti-joined/semi-joined, never collected.
        self.dirty_cells = _dirty_cells

    def _xy(self, df: DataFrame) -> DataFrame:
        """Project the routing plane (first two dims) onto the 2D names."""
        if self.dims == 2:
            return df.select(self.data_id, *BOX)
        return df.select(
            self.data_id,
            F.col("min0").alias("xmin"), F.col("min1").alias("ymin"),
            F.col("max0").alias("xmax"), F.col("max1").alias("ymax"),
        )

    # -- size (reference prtree.h:816-824) -----------------------------------
    def size(self) -> int:
        return self._n

    def __len__(self) -> int:
        return self._n

    def empty(self) -> bool:
        return self._n == 0

    # -- reopening a persisted index (reference load → mutate → query,
    #    tests/integration/test_persistence_query_workflow.py:41-72) ----------
    @classmethod
    def from_index(cls, spark, path: str, data_id: str = "id") -> "PRTreeTable":
        """Reopen a persisted index as a mutable table bound to the SAME
        directory: cfg and the live row count come from the index meta.
        The only jobs are ``load_index``'s: one reads a Parquet footer for
        the schema, and one lists the snapshot's files when it names more
        than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
        (32) of them. The base rows are reconstructed lazily
        from the persisted pack arrays, and ``refresh_index(path)`` after
        mutations re-packs ONLY dirty cells — untouched bucket
        directories stay byte-identical, no O(index) re-pack. Payload
        columns are not stored in packs, so the reopened table is
        geometry-only (reattach payloads with ``set_obj``)."""
        from python_prtree_spark.sources.store import load_index

        li = load_index(spark, path)
        n = li.size()
        t = cls(li.boxes(data_id), li.cfg, data_id, dims=li.dims,
                _n_at_build=n, _validate=False, _n_hint=n)
        t.index_path = path
        return t

    # -- mutations ------------------------------------------------------------
    def _maybe_auto_rebuild(self, snap: "PRTreeTable") -> "PRTreeTable":
        """The reference's automatic re-optimization (REBUILD_THRE = 1.25,
        types.h:53; grow trigger prtree.h:411-413, shrink :811-813): when a
        mutation crosses the threshold, the snapshot becomes a FULL
        re-pack — n_at_build resets to the live count and EVERY cell is
        marked dirty, so the next ``refresh_index`` rewrites the whole
        index. Query results are invariant either way; this is the
        amortized-compaction contract, not correctness."""
        if not snap.needs_rebuild():
            return snap
        return PRTreeTable(
            snap.df, snap.cfg, snap.data_id, dims=snap.dims,
            _n_at_build=snap._n, _dirty_cells=snap._all_cells(),
            _validate=False, _n_hint=snap._n,
        )

    def _touched_cells(self, rows_df: DataFrame) -> DataFrame:
        return explode_cells(
            self._xy(rows_df).drop(self.data_id), self.cfg.extent, self.cfg.level
        ).select("cell").distinct()

    def _all_cells(self) -> DataFrame:
        """Every cell of a full re-pack: the cells the live rows cover plus
        the pending dirty set — cells the mutations VACATED are not covered
        by the (possibly smaller, possibly empty) live table but still hold
        stale packs that the re-pack must clear."""
        cells = self._touched_cells(self.df)
        if self.dirty_cells is None:
            return cells
        return cells.unionByName(
            self.dirty_cells.select(F.col(self.dirty_cells.columns[0]).alias("cell"))
        ).distinct()

    def _ids_frame(self, ids: list[int]) -> DataFrame:
        """One `data_id` BIGINT row per given id, in order, duplicates kept.
        Built JVM-side: createDataFrame over Python rows would run a Python
        worker job in whichever action first reads the frame."""
        arr = ", ".join(str(int(i)) for i in ids)
        return self.df.sparkSession.range(1, numPartitions=1).selectExpr(
            f"explode(CAST(array({arr}) AS ARRAY<BIGINT>)) AS `{self.data_id}`"
        )

    def _with_dirty(self, extra: DataFrame) -> DataFrame:
        if self.dirty_cells is None:
            return extra
        return self.dirty_cells.unionByName(extra)

    def insert(
        self,
        rows_df: DataFrame | None = None,
        *,
        idx: int | None = None,
        bb=None,
        obj=None,
    ) -> "PRTreeTable":
        """Append rows; raises on duplicate id like prtree.h:302-306.

        Two forms, mirroring the reference (core.py:388-470):
          * bulk:   insert(rows_df) with (id, xmin, ymin, xmax, ymax[, ...]);
          * scalar: insert(idx=?, bb=[xmin, ymin, xmax, ymax], obj=?) —
            idx omitted → auto-id n+1 (core.py:454-457); obj is a payload
            value stored in an ``obj`` column (or a dict of column→value).
        """
        spark_rows = rows_df
        if spark_rows is None:
            if bb is None:
                raise ValueError("Specify bounding box")
            if idx is None and obj is None:
                raise ValueError("Specify index or obj")
            if idx is None:
                idx = self._n + 1  # reference auto-id (core.py:456-457)
            vals = [float(v) for v in bb]
            if len(vals) == self.dims:  # point insert = degenerate box
                vals = vals + vals
            if len(vals) != 2 * self.dims:
                raise ValueError(
                    f"{self.dims}D bb must have {2 * self.dims} values "
                    "[min..., max...]"
                )
            row = {self.data_id: int(idx)}
            mins, maxs = box_col_names(self.dims)
            for i, c in enumerate(mins + maxs):
                row[c] = vals[i]
            if obj is not None:
                row.update(obj if isinstance(obj, dict) else {"obj": obj})
            spark = self.df.sparkSession
            spark_rows = spark.createDataFrame([row])
        rows = spark_rows.select(
            self.data_id, *self.box,
            *[c for c in spark_rows.columns if c not in [self.data_id, *self.box]],
        )
        validate_boxes_df(rows.select(*self.box), self.cfg, self.dims)
        clash = (
            self.df.select(self.data_id)
            .join(rows.select(self.data_id), on=self.data_id)
            .limit(1).count()
        )
        if clash:
            raise ValueError("Given index is already taken")
        n_new = rows.count()  # counts only the (small) mutation batch
        new_df = self.df.unionByName(rows, allowMissingColumns=True)
        return self._maybe_auto_rebuild(PRTreeTable(
            new_df, self.cfg, self.data_id, dims=self.dims,
            _n_at_build=self.n_at_build,
            _dirty_cells=self._with_dirty(self._touched_cells(rows)),
            _validate=False,
            _n_hint=self._n + n_new,
        ))

    def erase(self, ids: int | list[int] | DataFrame) -> "PRTreeTable":
        """Delete by id (scalar, list, or DataFrame); missing id raises
        RuntimeError with the reference's message (prtree.h:795-799)."""
        if isinstance(ids, DataFrame):
            ids_df = ids.select(F.col(ids.columns[0]).alias(self.data_id)).distinct()
            n_req = ids_df.count()
        else:
            if isinstance(ids, int):
                ids = [ids]
            uniq = sorted({int(i) for i in ids})
            ids_df = self._ids_frame(uniq)
            n_req = len(uniq)
        hit = self.df.join(ids_df, on=self.data_id, how="left_semi")
        n_hit = hit.count()
        if n_hit < n_req:
            raise RuntimeError("Given index is not found")
        dirty = self._touched_cells(hit)
        new_df = self.df.join(ids_df, on=self.data_id, how="left_anti")
        return self._maybe_auto_rebuild(PRTreeTable(
            new_df, self.cfg, self.data_id, dims=self.dims,
            _n_at_build=self.n_at_build,
            _dirty_cells=self._with_dirty(dirty),
            _validate=False,
            _n_hint=self._n - n_hit,
        ))

    # -- re-optimization (reference types.h:53 REBUILD_THRE=1.25) -------------
    def needs_rebuild(self) -> bool:
        thr = self.cfg.rebuild_threshold
        return self._n > thr * self.n_at_build or thr * self._n < self.n_at_build

    def rebuild(self) -> "PRTreeTable":
        """Full re-pack: results must be invariant (test_rebuild.py:69-94).
        n_at_build resets to the live count and every cell is marked dirty
        so a following ``refresh_index`` rewrites the whole persisted
        index (never silently drops pending dirty cells)."""
        return PRTreeTable(self.df, self.cfg, self.data_id, dims=self.dims,
                           _validate=False, _dirty_cells=self._all_cells(),
                           _n_hint=self._n)

    def refresh_index(self, path: str) -> None:
        """Incremental index refresh: re-pack ONLY dirty cells and commit a
        new index SNAPSHOT whose dirty buckets point at the re-packed files
        (untouched bucket directories are byte-identical after the refresh;
        the pre-refresh version stays readable via ``load_index(...,
        version=)``), then clear the dirty set. The distributed analogue of
        the reference's amortized rebuild (prtree.h:411-413)."""
        import json
        import os

        from python_prtree_spark.operators.build import build_index
        from python_prtree_spark.sources.store import _with_bucket, merge_refresh

        if self.dirty_cells is None:
            return
        dirty = self.dirty_cells.distinct()
        src = self.df
        extra_cols = None
        if self.dims > 2:
            # nd persisted index (r4 VERDICT item 4): route on dims 0-1,
            # carry dims 2..D-1 into the re-packed cells — same layout
            # save_index(dims=) writes, so refreshed buckets stay readable
            # by the nd probe kernel
            from python_prtree_spark.operators.nd import _as2d

            src = _as2d(self.df, self.data_id, self.dims)
            extra_cols = _probe._carried_cols(self.dims)
        index, _ = build_index(src, self.cfg, self.data_id, validate=False,
                               only_cells=dirty, n_data_hint=self._n,
                               extra_cols=extra_cols)
        fresh = _with_bucket(index, self.cfg.level)
        spark = self.df.sparkSession
        merge_refresh(spark, os.path.join(path, "index"), fresh, dirty,
                      self.cfg.level)
        # keep the persisted live-row count in sync
        meta_path = os.path.join(path, "_engine_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            meta["n_live_rows"] = self._n
            with open(meta_path, "w") as f:
                json.dump(meta, f)
        self.dirty_cells = None

    # -- precision controls (reference prtree.h:960-1015, bound at
    #    python_bindings.cc:66-92). These tune INGEST behavior only —
    #    validation thresholds and the insert-placement epsilon family —
    #    never query results (queries compare raw coordinates,
    #    bounding_box.h:104-123), exactly as in the reference. Setters
    #    mutate the snapshot's config in place, matching the reference's
    #    tree-instance ergonomics; error messages mirror prtree.h. ---------
    def set_relative_epsilon(self, epsilon: float) -> None:
        import math as _math

        if epsilon <= 0.0 or not _math.isfinite(epsilon):
            raise RuntimeError("Relative epsilon must be positive and finite")
        self.cfg = self.cfg.with_(rel_epsilon=float(epsilon))

    def set_absolute_epsilon(self, epsilon: float) -> None:
        import math as _math

        if epsilon <= 0.0 or not _math.isfinite(epsilon):
            raise RuntimeError("Absolute epsilon must be positive and finite")
        self.cfg = self.cfg.with_(abs_epsilon=float(epsilon))

    def set_adaptive_epsilon(self, enabled: bool) -> None:
        self.cfg = self.cfg.with_(adaptive_epsilon=bool(enabled))

    def set_subnormal_detection(self, enabled: bool) -> None:
        self.cfg = self.cfg.with_(detect_subnormal=bool(enabled))

    def get_relative_epsilon(self) -> float:
        return self.cfg.rel_epsilon

    def get_absolute_epsilon(self) -> float:
        return self.cfg.abs_epsilon

    def get_adaptive_epsilon(self) -> bool:
        return self.cfg.adaptive_epsilon

    def get_subnormal_detection(self) -> bool:
        return self.cfg.detect_subnormal

    # -- payloads (reference set_obj/get_obj, core.py:263-376;
    #    return_obj=True at core.py:601-605) ------------------------------------
    @property
    def payload_cols(self) -> list[str]:
        return [c for c in self.df.columns if c not in [self.data_id, *self.box]]

    def set_obj(self, updates_df: DataFrame) -> "PRTreeTable":
        """Attach/replace payload columns for the given ids (updates_df:
        (id, <payload cols...>)). Ids absent from the table are ignored,
        like the reference's unordered_map overwrite semantics."""
        upd_cols = [c for c in updates_df.columns if c != self.data_id]
        upd = updates_df.select(
            self.data_id, *[F.col(c).alias(f"_new_{c}") for c in upd_cols]
        )
        out = self.df.join(upd, on=self.data_id, how="left")
        for c in upd_cols:
            if c in self.df.columns:
                out = out.withColumn(c, F.coalesce(F.col(f"_new_{c}"), F.col(c)))
            else:
                out = out.withColumn(c, F.col(f"_new_{c}"))
            out = out.drop(f"_new_{c}")
        return PRTreeTable(
            out, self.cfg, self.data_id, dims=self.dims,
            _n_at_build=self.n_at_build, _dirty_cells=self.dirty_cells,
            _validate=False, _n_hint=self._n,
        )

    def get_obj(self, ids: list[int]) -> DataFrame:
        """Payload rows for the given ids; unset payloads come back NULL
        (reference prtree.h:269-277: get_obj of unset id → None). One row
        per requested id, duplicates included."""
        return self._ids_frame(ids).join(
            self.df.select(self.data_id, *self.payload_cols),
            on=self.data_id, how="left",
        )

    # -- queries (delegation) --------------------------------------------------
    def batch_query(
        self, query_df: DataFrame, query_id: str = "qid", return_obj: bool = False
    ) -> DataFrame:
        if self.dims == 2:
            pairs = _probe.batch_query(
                self.df, query_df, self.cfg, self.data_id, query_id,
                n_data_hint=self._n,
            )
        else:
            from python_prtree_spark.operators.nd import batch_query_nd

            pairs = batch_query_nd(
                self.df, query_df, self.dims, self.cfg, self.data_id, query_id,
                n_data_hint=self._n,
            )
        if not return_obj:
            return pairs
        # return_obj=True: join payload columns back onto the result ids
        return pairs.join(
            self.df.select(self.data_id, *self.payload_cols), on=self.data_id, how="left"
        ).select(query_id, self.data_id, *self.payload_cols)

    def query(self, *coords: float, return_obj: bool = False) -> list:
        """Single-probe convenience with the reference's return contract
        (core.py:513-605, PRTree3D/4D.query core.py:774,826): sorted
        ascending id list; a D-argument call is a point probe (degenerate
        box, prtree.h:743-754), a 2*D-argument call a box probe with the
        reference's (min0..min{D-1}, max0..max{D-1}) layout. With
        ``return_obj=True`` returns payloads instead of ids, ordered by id
        (core.py:601-605) — the bare value for a single payload column,
        else a dict of payload columns."""
        D = self.dims
        vals = [float(v) for v in coords]
        if len(vals) == D:  # point probe: query(x, y[, z, ...])
            vals = vals + vals
        elif len(vals) != 2 * D:
            raise ValueError(
                f"{D}D query takes {D} (point) or {2 * D} (box) "
                f"coordinates, got {len(vals)}"
            )
        spark = self.df.sparkSession
        if D == 2:
            schema = "qid long, xmin double, ymin double, xmax double, ymax double"
            row = (0, vals[0], vals[1], vals[2], vals[3])
        else:
            mins, maxs = box_col_names(D)
            schema = "qid long, " + ", ".join(
                f"{c} double" for c in (*mins, *maxs)
            )
            row = (0, *vals)
        q = spark.createDataFrame([row], schema)
        if not return_obj:
            rows = self.batch_query(q, "qid").collect()
            return sorted(r[self.data_id] for r in rows)
        pcols = self.payload_cols
        rows = self.batch_query(q, "qid", return_obj=True).collect()
        rows.sort(key=lambda r: r[self.data_id])
        if len(pcols) == 1:
            return [r[pcols[0]] for r in rows]
        return [{c: r[c] for c in pcols} for r in rows]

    def batch_query_array(self, query_df: DataFrame, query_id: str = "qid") -> DataFrame:
        """(query_id, n_hits, ids sorted ascending) at every dimension,
        with the reference's empty-array contract (prtree.h:731-733)."""
        return _probe._hits_array(
            self.batch_query(query_df, query_id), query_df, self.data_id, query_id
        )

    def point_query(self, points_df: DataFrame, query_id: str = "qid") -> DataFrame:
        """Point probes. For dims > 2 pass columns p0..p{D-1}; points are
        degenerate boxes (reference prtree.h:596-615)."""
        return self.batch_query(
            _probe._points_as_boxes(points_df, query_id, self.dims), query_id
        )

    def query_intersections(self) -> DataFrame:
        if self.dims == 2:
            return _qi(self.df, self.cfg, self.data_id, n_data_hint=self._n)
        from python_prtree_spark.operators.nd import query_intersections_nd

        return query_intersections_nd(
            self.df, self.dims, self.cfg, self.data_id, n_data_hint=self._n
        )
