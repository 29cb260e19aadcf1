"""3D/4D operators vs brute-force oracle — parity with the reference's
PRTree3D/PRTree4D families (python_bindings.cc:174-408; legacy suite runs
5 seeds x 3 dims)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from python_prtree_spark import EngineConfig, Extent
from python_prtree_spark.operators.nd import batch_query_nd, box_cols, query_intersections_nd

CFG = EngineConfig(extent=Extent(0, 0, 100, 100), level=3, strategy="sql")


def rand_boxes_nd(n, dims, seed, ext_max=20.0):
    rng = np.random.default_rng(seed)
    mins = rng.random((n, dims)) * 100
    ext = rng.random((n, dims)) * ext_max + 1
    return np.hstack([mins, mins + ext])


def oracle_nd(q, d, dims):
    out = set()
    for qi in range(len(q)):
        hit = np.ones(len(d), dtype=bool)
        for k in range(dims):
            hit &= (q[qi, k] <= d[:, dims + k]) & (d[:, k] <= q[qi, dims + k])
        for di in np.nonzero(hit)[0]:
            out.add((qi, int(di)))
    return out


def nd_df(spark, boxes, dims, id_col="id"):
    cols = box_cols(dims)
    pdf = pd.DataFrame({id_col: np.arange(len(boxes))})
    for i, c in enumerate(cols):
        pdf[c] = boxes[:, i]
    schema = f"{id_col} long, " + ", ".join(f"{c} double" for c in cols)
    return spark.createDataFrame(pdf, schema=schema)


@pytest.mark.parametrize("dims", [2, 3, 4])
@pytest.mark.parametrize("strategy", ["sql", "packed"])
def test_batch_query_nd_oracle(spark, dims, strategy):
    d = rand_boxes_nd(1000, dims, dims * 10)
    q = rand_boxes_nd(60, dims, dims * 10 + 1)
    got = set(
        (r["qid"], r["id"])
        for r in batch_query_nd(nd_df(spark, d, dims), nd_df(spark, q, dims, "qid"),
                                dims, CFG.with_(strategy=strategy)).collect()
    )
    assert got == oracle_nd(q, d, dims)


def test_nd_auto_tiny_routes_without_jobs(spark, tmp_path):
    """With extent and level set, strategy 'auto' and no n_data_hint, a
    tiny 3D data side takes the same zero-job shortcut as 2D: building
    the batch_query_nd frame schedules no Spark job (no resolve_geometry
    count), and its pairs still equal the brute-force oracle."""
    d = rand_boxes_nd(300, 3, 121)
    q = rand_boxes_nd(30, 3, 122)
    nd_df(spark, d, 3).write.parquet(str(tmp_path / "d"))
    nd_df(spark, q, 3, "qid").write.parquet(str(tmp_path / "q"))
    # a file source gives Catalyst a size estimate (in-memory frames have none)
    ddf = spark.read.parquet(str(tmp_path / "d"))
    qdf = spark.read.parquet(str(tmp_path / "q"))
    sc = spark.sparkContext
    sc.setJobGroup("nd-tiny-route", "batch_query_nd frame build")
    try:
        out = batch_query_nd(ddf, qdf, 3, CFG.with_(strategy="auto"))
        jobs = sc.statusTracker().getJobIdsForGroup("nd-tiny-route")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert {(r["qid"], r["id"]) for r in out.collect()} == oracle_nd(q, d, 3)


@pytest.mark.parametrize("strategy", ["sql", "packed"])
def test_intersections_3d(spark, strategy):
    d = rand_boxes_nd(500, 3, 77, ext_max=10.0)
    got = set(
        (r["id_a"], r["id_b"])
        for r in query_intersections_nd(nd_df(spark, d, 3), 3,
                                        CFG.with_(strategy=strategy)).collect()
    )
    exp = {(a, b) for (a, b) in oracle_nd(d, d, 3) if a < b}
    assert got == exp


def test_nd_packed_zdense_salted(spark):
    """z/w-dense skew: hundreds of boxes stacked in ONE xy cell (varying
    only in z) — the packed path salts the hot cell (probes replicated,
    build rows hash-split) and results stay exact."""
    rng = np.random.default_rng(91)
    n = 400
    boxes = np.zeros((n, 6))
    boxes[:, 0] = 5.0 + rng.random(n)          # xy: all inside one cell
    boxes[:, 1] = 5.0 + rng.random(n)
    boxes[:, 2] = rng.random(n) * 100          # z spreads
    boxes[:, 3] = boxes[:, 0] + 0.5
    boxes[:, 4] = boxes[:, 1] + 0.5
    boxes[:, 5] = boxes[:, 2] + 3.0
    q = rand_boxes_nd(40, 3, 92)
    cfg = CFG.with_(strategy="packed", salt_threshold=50, max_salts=8)
    got = set(
        (r["qid"], r["id"])
        for r in batch_query_nd(nd_df(spark, boxes, 3), nd_df(spark, q, 3, "qid"),
                                3, cfg).collect()
    )
    assert got == oracle_nd(q, boxes, 3)


def test_float32_inputs_exact(spark):
    """float32 coords upcast exactly — same results as the float64 twin
    (reference dtype dispatch, core.py:119-145)."""
    d64 = rand_boxes_nd(400, 2, 88)
    d32 = d64.astype(np.float32)
    q64 = rand_boxes_nd(30, 2, 89)
    q32 = q64.astype(np.float32)

    def run(d, q, cast):
        ddf = nd_df(spark, d.astype(np.float64), 2)
        qdf = nd_df(spark, q.astype(np.float64), 2, "qid")
        if cast:
            for c in box_cols(2):
                ddf = ddf.withColumn(c, ddf[c].cast("float"))
                qdf = qdf.withColumn(c, qdf[c].cast("float"))
        return set((r["qid"], r["id"]) for r in batch_query_nd(ddf, qdf, 2, CFG).collect())

    assert run(d32, q32, cast=True) == oracle_nd(
        q32.astype(np.float64), d32.astype(np.float64), 2
    )


@pytest.mark.parametrize("dims", [3, 4])
def test_mutation_nd_oracle(spark, dims):
    """3D/4D mutation surface (VERDICT r3 item 4, reference legacy suite
    insert_erase across dims): build -> erase -> bulk insert -> scalar
    insert -> batch_query must equal the brute-force oracle over the
    mutated box set; duplicate-id and missing-id errors keep the
    reference's messages."""
    from python_prtree_spark.operators.mutate import PRTreeTable

    n = 400
    d = rand_boxes_nd(n, dims, dims * 100, ext_max=10.0)
    q = rand_boxes_nd(40, dims, dims * 100 + 1, ext_max=15.0)
    t = PRTreeTable(nd_df(spark, d, dims), CFG, dims=dims)
    assert t.size() == n

    # erase every 5th id
    gone = list(range(0, n, 5))
    t = t.erase(gone)
    assert t.size() == n - len(gone)

    # bulk insert fresh boxes with offset ids
    from pyspark.sql import functions as F

    ins = rand_boxes_nd(50, dims, dims * 100 + 2, ext_max=10.0)
    t = t.insert(nd_df(spark, ins, dims).withColumn("id", F.col("id") + 10_000))
    # scalar insert: bb of 2*dims values, explicit id
    bb = [5.0] * dims + [8.0] * dims
    t = t.insert(idx=99_999, bb=bb)

    live = {i: d[i] for i in range(n) if i % 5 != 0}
    live.update({10_000 + i: ins[i] for i in range(len(ins))})
    live[99_999] = np.array(bb, dtype=float)
    ids = sorted(live)
    dd = np.stack([live[i] for i in ids])
    exp = {(qi, ids[di]) for qi, di in oracle_nd(q, dd, dims)}

    got = {(r["qid"], r["id"])
           for r in t.batch_query(nd_df(spark, q, dims, "qid")).collect()}
    assert got == exp

    import pytest as _pytest
    with _pytest.raises(ValueError, match="already taken"):
        t.insert(idx=99_999, bb=bb)
    with _pytest.raises(RuntimeError, match="Given index is not found"):
        t.erase(77_777_777)


def test_mutation_nd_point_query_and_intersections(spark):
    """nd point_query (p0..p{D-1} columns, degenerate boxes) and
    query_intersections on a mutated 3D table vs oracle."""
    from python_prtree_spark.operators.mutate import PRTreeTable

    dims, n = 3, 300
    d = rand_boxes_nd(n, dims, 909, ext_max=12.0)
    t = PRTreeTable(nd_df(spark, d, dims), CFG, dims=dims).erase(list(range(0, n, 4)))
    live_ids = [i for i in range(n) if i % 4 != 0]
    dd = d[live_ids]

    rng = np.random.default_rng(910)
    pts = rng.random((30, dims)) * 100
    pq = pts.copy()
    q = np.hstack([pq, pq])  # degenerate boxes for the oracle
    exp = {(qi, live_ids[di]) for qi, di in oracle_nd(q, dd, dims)}
    pdf = pd.DataFrame({"qid": np.arange(len(pts))})
    for k in range(dims):
        pdf[f"p{k}"] = pts[:, k]
    pts_df = spark.createDataFrame(
        pdf, schema="qid long, " + ", ".join(f"p{k} double" for k in range(dims)))
    got = {(r["qid"], r["id"]) for r in t.point_query(pts_df).collect()}
    assert got == exp

    pairs = {(r["id_a"], r["id_b"]) for r in t.query_intersections().collect()}
    exp_pairs = set()
    for ai in range(len(dd)):
        for bi in range(ai + 1, len(dd)):
            if all(max(dd[ai, k], dd[bi, k]) <= min(dd[ai, dims + k], dd[bi, dims + k])
                   for k in range(dims)):
                exp_pairs.add((live_ids[ai], live_ids[bi]))
    assert pairs == exp_pairs and pairs


def test_scalar_query_nd(spark):
    """Scalar query() at dims>2 (reference PRTree3D/4D.query,
    core.py:774,826): D-arg point probe and 2*D-arg box probe return the
    sorted-id list the brute-force oracle predicts."""
    from python_prtree_spark.operators.mutate import PRTreeTable

    dims = 3
    d = rand_boxes_nd(400, dims, 321, ext_max=15.0)
    t = PRTreeTable(nd_df(spark, d, dims), CFG, dims=dims)

    pt = np.array([[50.0, 50.0, 50.0]])
    exp_pt = sorted(
        di for _, di in oracle_nd(np.hstack([pt, pt]), d, dims)
    )
    assert t.query(50.0, 50.0, 50.0) == exp_pt

    box = np.array([[40.0, 40.0, 40.0, 60.0, 60.0, 60.0]])
    exp_box = sorted(di for _, di in oracle_nd(box, d, dims))
    got_box = t.query(40.0, 40.0, 40.0, 60.0, 60.0, 60.0)
    assert got_box == exp_box and got_box

    import pytest as _pytest
    with _pytest.raises(ValueError, match="coordinates"):
        t.query(1.0, 2.0)


def test_batch_query_array_nd(spark):
    """batch_query_array at dims>2: (qid, n_hits, sorted ids) with the
    reference's empty-array contract (prtree.h:731-733)."""
    from python_prtree_spark.operators.mutate import PRTreeTable

    dims = 4
    d = rand_boxes_nd(300, dims, 55, ext_max=18.0)
    q = rand_boxes_nd(25, dims, 56, ext_max=25.0)
    # one probe guaranteed empty: outside the extent-adjacent data range
    q[0] = [99.9] * dims + [99.95] * dims
    t = PRTreeTable(nd_df(spark, d, dims), CFG, dims=dims)
    exp: dict[int, list[int]] = {qi: [] for qi in range(len(q))}
    for qi, di in oracle_nd(q, d, dims):
        exp[qi].append(di)
    got = {
        r["qid"]: (r["n_hits"], list(r["ids"]))
        for r in t.batch_query_array(nd_df(spark, q, dims, "qid")).collect()
    }
    assert set(got) == set(exp)
    for qi, ids in exp.items():
        assert got[qi] == (len(ids), sorted(ids))


@pytest.mark.parametrize("dims", [3, 4])
def test_persist_roundtrip_nd(spark, tmp_path, dims):
    """save_index(dims=)/load_index at 3D and 4D: loaded probes (carried
    extra-dim arrays refined in-kernel) match the brute-force oracle;
    boxes() reconstructs the nd table; from_index + mutations +
    refresh_index keep the persisted nd index queryable (reference
    python_bindings.cc:174-408, legacy io tests across dims)."""
    from python_prtree_spark.operators.mutate import PRTreeTable
    from python_prtree_spark.sources.store import load_index, save_index

    n = 400
    d = rand_boxes_nd(n, dims, dims * 100, ext_max=12.0)
    q = rand_boxes_nd(40, dims, dims * 100 + 1, ext_max=20.0)
    path = str(tmp_path / f"idx{dims}d")
    save_index(nd_df(spark, d, dims), path, CFG, dims=dims)

    idx = load_index(spark, path)
    assert idx.dims == dims
    assert idx.size() == n
    got = {(r["qid"], r["id"])
           for r in idx.batch_query(nd_df(spark, q, dims, "qid")).collect()}
    assert got == oracle_nd(q, d, dims) and got

    # nd boxes() reconstruction: exact coordinates, nd naming
    rec = {r["id"]: [r[c] for c in box_cols(dims)]
           for r in idx.boxes().collect()}
    assert len(rec) == n
    for i in (0, n // 2, n - 1):
        assert rec[i] == pytest.approx(list(d[i]), abs=0)

    # mutate the persisted nd index: erase a quarter, refresh, reload
    t = PRTreeTable.from_index(spark, path)
    assert t.dims == dims
    t = t.erase(list(range(0, n, 4)))
    t.refresh_index(path)
    live = [i for i in range(n) if i % 4 != 0]
    idx2 = load_index(spark, path)
    got2 = {(r["qid"], r["id"])
            for r in idx2.batch_query(nd_df(spark, q, dims, "qid")).collect()}
    exp2 = {(qi, live[di]) for qi, di in oracle_nd(q, d[live], dims)}
    assert got2 == exp2


def test_loaded_point_query_nd(spark, tmp_path):
    """LoadedIndex.point_query at 3D (p0..p2 convention) vs brute force."""
    from python_prtree_spark.sources.store import load_index, save_index

    dims, n = 3, 300
    d = rand_boxes_nd(n, dims, 888, ext_max=15.0)
    path = str(tmp_path / "idxp3")
    save_index(nd_df(spark, d, dims), path, CFG, dims=dims)
    idx = load_index(spark, path)

    rng = np.random.default_rng(889)
    pts = rng.random((25, dims)) * 100
    q = np.hstack([pts, pts])
    exp = oracle_nd(q, d, dims)
    pdf = pd.DataFrame({"qid": np.arange(len(pts))})
    for k in range(dims):
        pdf[f"p{k}"] = pts[:, k]
    pts_df = spark.createDataFrame(
        pdf, schema="qid long, " + ", ".join(f"p{k} double" for k in range(dims)))
    got = {(r["qid"], r["id"]) for r in idx.point_query(pts_df).collect()}
    assert got == exp


def test_loaded_intersections_nd(spark, tmp_path):
    """LoadedIndex.query_intersections at 3D: persisted packs probed
    directly, carried dims refined in-kernel — pairs match brute force."""
    from python_prtree_spark.sources.store import load_index, save_index

    dims, n = 3, 350
    d = rand_boxes_nd(n, dims, 777, ext_max=10.0)
    path = str(tmp_path / "idxi3")
    save_index(nd_df(spark, d, dims), path, CFG, dims=dims)
    idx = load_index(spark, path)
    got = {(r["id_a"], r["id_b"]) for r in idx.query_intersections().collect()}
    exp = set()
    for a in range(n):
        for b in range(a + 1, n):
            if all(max(d[a, k], d[b, k]) <= min(d[a, dims + k], d[b, dims + k])
                   for k in range(dims)):
                exp.add((a, b))
    assert got == exp and got
