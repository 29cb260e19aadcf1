"""Payload surface (reference set_obj/get_obj/return_obj,
core.py:263-376, 601-605; tests/unit/test_object_handling.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from python_prtree_spark import EngineConfig, Extent, PRTreeTable
from tests.conftest import boxes_df, oracle_pairs, rand_boxes

CFG = EngineConfig(extent=Extent(0, 0, 100, 100), level=3, strategy="sql")


def test_payload_roundtrip_and_return_obj(spark):
    boxes = rand_boxes(100, 101)
    base = boxes_df(spark, boxes)
    t = PRTreeTable(base, CFG)

    # set_obj: attach captions + binary blobs to half the rows
    upd = spark.createDataFrame(
        pd.DataFrame({
            "id": np.arange(0, 50),
            "caption": [f"cap{i}" for i in range(50)],
            "blob": [bytes([i % 256]) * 4 for i in range(50)],
        }),
        schema="id long, caption string, blob binary",
    )
    t2 = t.set_obj(upd)
    assert set(t2.payload_cols) == {"caption", "blob"}

    # get_obj: set ids round-trip; unset ids → NULL (reference: None)
    got = {r["id"]: (r["caption"], r["blob"]) for r in t2.get_obj([3, 77]).collect()}
    assert got[3] == ("cap3", bytes([3]) * 4)
    assert got[77] == (None, None)
    # ids above 2^33, a missing id (NULL payload) and a duplicate id: one
    # row per requested id
    big = 2**33 + 5
    t2b = t2.insert(idx=big, bb=[1.0, 1.0, 2.0, 2.0],
                    obj={"caption": "big", "blob": b"xy"})
    rows = t2b.get_obj([big, 2**34 + 1, 3, 3]).collect()
    assert sorted(r["id"] for r in rows) == [3, 3, big, 2**34 + 1]
    got = {r["id"]: (r["caption"], r["blob"]) for r in rows}
    assert got[big] == ("big", b"xy")
    assert got[2**34 + 1] == (None, None)
    assert got[3] == ("cap3", bytes([3]) * 4)

    # overwrite semantics
    upd2 = spark.createDataFrame(
        pd.DataFrame({"id": [3], "caption": ["cap3-v2"]}),
        schema="id long, caption string",
    )
    t3 = t2.set_obj(upd2)
    got3 = {r["id"]: r["caption"] for r in t3.get_obj([3, 4]).collect()}
    assert got3[3] == "cap3-v2" and got3[4] == "cap4"

    # return_obj=True carries payloads on query results
    qboxes = rand_boxes(10, 102)
    res = t2.batch_query(boxes_df(spark, qboxes, "qid"), return_obj=True).collect()
    exp = oracle_pairs(qboxes, boxes)
    assert {(r["qid"], r["id"]) for r in res} == exp
    for r in res:
        if r["id"] < 50:
            assert r["caption"] == f"cap{r['id']}"
        else:
            assert r["caption"] is None


def test_payload_survives_mutations(spark):
    boxes = rand_boxes(60, 103)
    pdf = pd.DataFrame({
        "id": np.arange(60),
        "xmin": boxes[:, 0], "ymin": boxes[:, 1],
        "xmax": boxes[:, 2], "ymax": boxes[:, 3],
        "caption": [f"c{i}" for i in range(60)],
    })
    t = PRTreeTable(
        spark.createDataFrame(
            pdf, schema="id long, xmin double, ymin double, xmax double, ymax double, caption string"
        ),
        CFG,
    )
    t2 = t.erase(list(range(10)))
    got = {r["id"]: r["caption"] for r in t2.get_obj([10, 59]).collect()}
    assert got == {10: "c10", 59: "c59"}
