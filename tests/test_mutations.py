"""Mutation contract (reference tests/legacy/test_PRTree.py:75-112,
tests/unit/test_insert.py, test_erase.py, test_rebuild.py):
bulk build ≡ incremental inserts; erase removes exactly; errors match;
rebuild leaves results invariant."""

from __future__ import annotations

import numpy as np
import pytest

from python_prtree_spark import EngineConfig, Extent, PRTreeTable
from tests.conftest import boxes_df, oracle_pairs, rand_boxes

CFG = EngineConfig(extent=Extent(0, 0, 100, 100), level=3, strategy="sql")


def _pairs(t: PRTreeTable, qdf) -> set:
    return set((r["qid"], r["id"]) for r in t.batch_query(qdf).collect())


def test_bulk_equals_incremental(spark):
    """Reference legacy contract: build(all) ≡ build(half)+insert(rest)."""
    boxes = rand_boxes(600, 41)
    qboxes = rand_boxes(40, 42)
    qdf = boxes_df(spark, qboxes, "qid")
    t_bulk = PRTreeTable(boxes_df(spark, boxes), CFG)
    half = len(boxes) // 2
    t_inc = PRTreeTable(boxes_df(spark, boxes[:half]), CFG)
    t_inc = t_inc.insert(boxes_df(spark, boxes[half:], ids=np.arange(half, len(boxes))))
    exp = oracle_pairs(qboxes, boxes)
    assert _pairs(t_bulk, qdf) == exp
    assert _pairs(t_inc, qdf) == exp
    assert t_inc.size() == len(boxes)


def test_erase_then_query(spark):
    boxes = rand_boxes(400, 43)
    qboxes = rand_boxes(30, 44)
    qdf = boxes_df(spark, qboxes, "qid")
    t = PRTreeTable(boxes_df(spark, boxes), CFG)
    erased = list(range(0, 200))
    t2 = t.erase(erased)
    exp = {(q, d) for (q, d) in oracle_pairs(qboxes, boxes) if d >= 200}
    assert _pairs(t2, qdf) == exp
    assert t2.size() == 200
    # original snapshot unaffected (MVCC)
    assert t.size() == 400


def test_duplicate_insert_raises(spark):
    """prtree.h:302-306."""
    t = PRTreeTable(boxes_df(spark, rand_boxes(50, 45)), CFG)
    with pytest.raises(ValueError, match="already taken"):
        t.insert(boxes_df(spark, rand_boxes(5, 46), ids=np.arange(5)))


def test_erase_missing_raises(spark):
    """Reference message: 'Given index is not found' (prtree.h:795-799)."""
    t = PRTreeTable(boxes_df(spark, rand_boxes(50, 47)), CFG)
    with pytest.raises(RuntimeError, match="Given index is not found"):
        t.erase([10_000])


def test_erase_list_wide_and_duplicate_ids(spark):
    """The id list becomes a JVM-side frame: ids above 2^31 keep their
    value, duplicates count once, and a missing id still raises."""
    boxes = rand_boxes(20, 54)
    ids = np.arange(20, dtype=np.int64) + (1 << 33)
    t = PRTreeTable(boxes_df(spark, boxes, ids=ids), CFG)
    t2 = t.erase([int(ids[3]), int(ids[3]), int(ids[7])])
    assert t2.size() == 18
    left = {r["id"] for r in t2.df.select("id").collect()}
    assert left == set(ids.tolist()) - {int(ids[3]), int(ids[7])}
    with pytest.raises(RuntimeError, match="Given index is not found"):
        t.erase([int(ids[0]), (1 << 33) + 99])
    with pytest.raises(RuntimeError, match="Given index is not found"):
        t.erase([int(ids[0]) - (1 << 32)])  # equal low 32 bits


def test_rebuild_invariant(spark):
    """test_rebuild.py:69-94: identical results pre/post rebuild."""
    boxes = rand_boxes(300, 48)
    qdf = boxes_df(spark, rand_boxes(25, 49), "qid")
    t = PRTreeTable(boxes_df(spark, boxes), CFG)
    t2 = t.erase(list(range(50))).rebuild()
    exp = {(q, d) for (q, d) in
           oracle_pairs(np.array([r[1:] for r in qdf.select('qid','xmin','ymin','xmax','ymax').collect()]), boxes)
           if d >= 50}
    assert _pairs(t2, qdf) == exp


def test_rebuild_threshold(spark):
    """REBUILD_THRE=1.25 growth/shrink triggers (types.h:53). Like the
    reference (prtree.h:411-413, 811-813) the rebuild fires INSIDE
    insert/erase: the returned snapshot has already re-optimized
    (n_at_build reset, all cells dirty) and needs_rebuild() is False
    again. The trigger fine-structure (at/over threshold) is covered by
    tests/test_from_index.py."""
    boxes = rand_boxes(100, 50)
    t = PRTreeTable(boxes_df(spark, boxes), CFG)
    assert not t.needs_rebuild()
    t2 = t.insert(boxes_df(spark, rand_boxes(30, 51), ids=np.arange(100, 130)))
    assert t2.n_at_build == 130 and not t2.needs_rebuild()  # 130 > 1.25*100 fired
    t3 = t.erase(list(range(30)))
    assert t3.n_at_build == 70 and not t3.needs_rebuild()  # 1.25*70 < 100 fired


def test_precision_controls_runtime(spark):
    """Runtime precision getters/setters (reference prtree.h:960-1015,
    SURVEY §2 row 12): tune ingest validation on a live table, never
    query results. Error messages mirror the reference."""
    t = PRTreeTable(boxes_df(spark, rand_boxes(20, 52)), CFG)
    assert t.get_relative_epsilon() == 1e-6
    assert t.get_absolute_epsilon() == 1e-8
    assert t.get_adaptive_epsilon() is True
    assert t.get_subnormal_detection() is True
    t.set_relative_epsilon(1e-5)
    t.set_absolute_epsilon(1e-7)
    t.set_adaptive_epsilon(False)
    assert t.get_relative_epsilon() == 1e-5
    assert t.get_absolute_epsilon() == 1e-7
    assert t.get_adaptive_epsilon() is False
    for bad in (0.0, -1.0, float("inf"), float("nan")):
        with pytest.raises(RuntimeError, match="must be positive and finite"):
            t.set_relative_epsilon(bad)
        with pytest.raises(RuntimeError, match="must be positive and finite"):
            t.set_absolute_epsilon(bad)
    # subnormal toggle steers ingest validation on THIS instance
    sub = np.nextafter(0.0, 1.0)  # smallest positive subnormal
    sub_box = boxes_df(spark, np.array([[sub, 1.0, 2.0, 3.0]]),
                       ids=np.array([900]))
    with pytest.raises(ValueError):
        t.insert(sub_box)
    t.set_subnormal_detection(False)
    t2 = t.insert(sub_box)
    assert t2.size() == 21


def test_validation_rejects_bad_boxes(spark):
    """NaN/Inf/min>max raise at build (prtree.h:151-185)."""
    bad_nan = np.array([[0.0, 0.0, np.nan, 1.0]])
    bad_order = np.array([[5.0, 0.0, 1.0, 1.0]])
    for bad in (bad_nan, bad_order):
        with pytest.raises(ValueError):
            PRTreeTable(boxes_df(spark, bad), CFG)


def test_scalar_insert_auto_id(spark):
    """Reference test_insert.py incremental-construction twins:
    insert(idx=?, bb=?) scalar form; idx omitted → auto-id n+1
    (core.py:454-457); obj-only insert works; erase(int) scalar form."""
    boxes = rand_boxes(10, 54)
    t = PRTreeTable(boxes_df(spark, boxes), CFG)
    t2 = t.insert(idx=100, bb=[1.0, 1.0, 2.0, 2.0])
    assert t2.size() == 11
    assert 100 in t2.query(1.5, 1.5)
    # auto-id: n + 1 = 12
    t3 = t2.insert(bb=[3.0, 3.0, 4.0, 4.0], obj="payload")
    assert t3.size() == 12
    assert 12 in t3.query(3.5, 3.5)
    assert t3.query(3.5, 3.5, return_obj=True) == ["payload"]
    # scalar erase
    t4 = t3.erase(100)
    assert t4.size() == 11
    assert 100 not in t4.query(1.5, 1.5)
    with pytest.raises(ValueError, match="Specify index or obj"):
        t.insert(bb=[0.0, 0.0, 1.0, 1.0])
    with pytest.raises(ValueError, match="Specify bounding box"):
        t.insert(idx=999)


def test_query_return_obj(spark):
    """query(..., return_obj=True) parity (core.py:601-605): payload values
    in ascending-id order."""
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2, 3],
        "xmin": [0.0, 0.5, 50.0], "ymin": [0.0, 0.5, 50.0],
        "xmax": [1.0, 1.5, 51.0], "ymax": [1.0, 1.5, 51.0],
        "obj": ["a", "b", "c"],
    }))
    t = PRTreeTable(df, CFG)
    assert t.query(0.6, 0.6) == [1, 2]
    assert t.query(0.6, 0.6, return_obj=True) == ["a", "b"]
    assert t.query(50.5, 50.5, return_obj=True) == ["c"]


def test_no_full_recount_per_mutation(spark):
    """Mutations thread row-count deltas through snapshots: the only
    count() actions during insert/erase are over the mutation batch and
    the O(1) clash probe — never a full-table recount — and size() after
    a mutation schedules no job at all."""
    from pyspark.sql import DataFrame

    boxes = rand_boxes(300, 55)
    t = PRTreeTable(boxes_df(spark, boxes), CFG)

    counted = []
    orig = DataFrame.count

    def tracking_count(self):
        counted.append(self)
        return orig(self)

    DataFrame.count = tracking_count
    try:
        t2 = t.insert(boxes_df(spark, rand_boxes(5, 56), ids=np.arange(1000, 1005)))
        n_insert_counts = len(counted)
        t3 = t2.erase([1000, 1001])
        n_erase_counts = len(counted) - n_insert_counts
        # insert: clash limit(1).count() + batch count; erase: hit count
        assert n_insert_counts <= 2
        assert n_erase_counts <= 2
        counted.clear()
        assert t3.size() == 303
        assert len(t3) == 303
        assert not t3.empty()
        assert not counted  # size()/len()/empty() schedule no job
    finally:
        DataFrame.count = orig


def test_erase_to_empty_then_insert(spark):
    """core.py:239-259 workaround contract: empty table keeps working."""
    boxes = rand_boxes(5, 52)
    t = PRTreeTable(boxes_df(spark, boxes), CFG)
    t2 = t.erase(list(range(5)))
    assert t2.empty()
    t3 = t2.insert(boxes_df(spark, rand_boxes(3, 53)))
    assert t3.size() == 3
