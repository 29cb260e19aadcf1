"""Plan-shape guards: the operators must compile to the physical plans the
100 TB design depends on — equi-joins on cell (never cartesian), column-
pruned scans, broadcast for small probe sides, AQE-compatible shapes."""

from __future__ import annotations

import pytest

from python_prtree_spark import EngineConfig, Extent, batch_query, query_intersections
from python_prtree_spark.plans import assert_no_cartesian, explain_str
from tests.conftest import boxes_df, rand_boxes

CFG = EngineConfig(extent=Extent(0, 0, 100, 100), level=3)


def test_batch_query_sql_plan(spark):
    d = boxes_df(spark, rand_boxes(500, 81))
    q = boxes_df(spark, rand_boxes(50, 82), "qid")
    df = batch_query(d, q, CFG.with_(strategy="sql"))
    assert_no_cartesian(df)
    plan = explain_str(df)
    # the join must be keyed on cell (hash or sort-merge or broadcast-hash)
    assert "Join" in plan and "cell" in plan


def test_packed_plan_shuffles_on_cell(spark):
    """PBSM packed plan: ONE exchange on the cell key feeding an
    in-partition sort feeding the Arrow stream — never a cartesian."""
    d = boxes_df(spark, rand_boxes(500, 83))
    q = boxes_df(spark, rand_boxes(50, 84), "qid")
    df = batch_query(d, q, CFG.with_(strategy="packed"))
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan
    assert "hashpartitioning(cell" in plan, plan
    assert "Sort" in plan, plan


def test_nd_packed_plan_single_exchange(spark):
    """ND packed (VERDICT r1 item 4): same PBSM shape as 2D — exactly one
    exchange on the cell key feeding the Arrow stream, no cartesian."""
    import numpy as np

    from python_prtree_spark.operators.nd import batch_query_nd
    from tests.test_nd import nd_df, rand_boxes_nd

    d = rand_boxes_nd(400, 3, 93)
    q = rand_boxes_nd(40, 3, 94)
    df = batch_query_nd(nd_df(spark, d, 3), nd_df(spark, q, 3, "qid"), 3,
                        CFG.with_(strategy="packed"))
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan
    assert plan.count("hashpartitioning(cell") == 1, plan
    assert "Sort" in plan, plan


def test_dedup_no_per_doc_broadcast_hint(spark):
    """VERDICT r1 item 3: the doc-level sides (per-doc sizes / per-vector
    embeddings) must not carry a mandatory broadcast HINT — AQE may still
    broadcast small sides adaptively at runtime, which is the point."""
    import pandas as pd

    from python_prtree_spark.operators.dedup import (
        embedding_near_dup_pairs, ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(20), "text": [f"tok{i} common a b" for i in range(20)],
    }))
    lp = ngram_jaccard_pairs(docs)._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in lp and "ResolvedHint" not in lp, lp
    vecs = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(8), "embedding": [[float(i), 1.0, 0.0] for i in range(8)],
    }))
    lp2 = embedding_near_dup_pairs(vecs, dim=3)._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in lp2 and "ResolvedHint" not in lp2, lp2


def test_tiny_probe_routes_to_broadcast_no_data_shuffle(spark, tmp_path):
    """auto strategy with a big build side + tiny probe batch must take the
    'sql' broadcast plan: the big side is scanned with ZERO exchange (the
    probes broadcast) — never shuffle 100 TB for a small probe set."""
    from python_prtree_spark.operators.probe import _pick_strategy

    d = boxes_df(spark, rand_boxes(2000, 95))
    p = str(tmp_path / "probes")
    boxes_df(spark, rand_boxes(5, 96), "qid").write.parquet(p)
    q = spark.read.parquet(p)  # real source → Catalyst has a size estimate
    auto = CFG.with_(strategy="auto")
    assert _pick_strategy(auto, 5_000_000, q) == "sql"
    # unknown estimate (in-memory frame → Long.MaxValue) must stay on the
    # conservative scale default
    q_mem = boxes_df(spark, rand_boxes(5, 97), "qid")
    assert _pick_strategy(auto, 5_000_000, q_mem) == "packed"
    # and the tiny-probe physical plan has no data-side hash exchange
    plan = explain_str(batch_query(d, q, CFG.with_(strategy="sql")))
    assert "hashpartitioning(cell" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_intersections_plan(spark):
    d = boxes_df(spark, rand_boxes(500, 85))
    df = query_intersections(d, CFG.with_(strategy="sql"))
    assert_no_cartesian(df)


def test_scan_column_pruning(spark, tmp_path):
    """Reading boxes from parquet through the engine must prune to the box
    columns + id (ReadSchema shows only what's needed)."""
    p = str(tmp_path / "boxes")
    d = boxes_df(spark, rand_boxes(300, 86))
    # write with two extra payload columns
    from pyspark.sql import functions as F

    d.withColumn("payload", F.lit("x" * 100)).withColumn("extra", F.lit(1)) \
        .write.parquet(p)
    base = spark.read.parquet(p)
    q = boxes_df(spark, rand_boxes(10, 87), "qid")
    df = batch_query(base, q, CFG.with_(strategy="sql"))
    plan = explain_str(df)
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for s in scans:
        if "boxes" in s:
            assert "payload" not in s and "extra" not in s, s


def test_distance_join_plan(spark):
    """distance_join inherits the cell-routed join — never a cartesian —
    and the refine predicate stays JVM-side (no Python eval in the plan
    for the 'sql' route)."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark import distance_join

    d = boxes_df(spark, rand_boxes(500, 91))
    rng = np.random.default_rng(92)
    pts = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(40), "x": rng.random(40) * 100,
                      "y": rng.random(40) * 100}),
        schema="qid long, x double, y double",
    )
    df = distance_join(d, pts, 2.0, CFG.with_(strategy="sql"))
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "Join" in plan and "cell" in plan
    assert "BatchEvalPython" not in plan, plan


def test_knn_broadcast_route_single_data_pass(spark, tmp_path):
    """Tiny probe batches must take the single-scan broadcast kNN: no
    cell exchange of the data side at all; the only exchange is the skinny
    final top-k window."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark import knn_join

    d = boxes_df(spark, rand_boxes(2000, 93))
    p = str(tmp_path / "knn_probes")
    rng = np.random.default_rng(94)
    spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(20), "x": rng.random(20) * 100,
                      "y": rng.random(20) * 100}),
        schema="qid long, x double, y double",
    ).write.parquet(p)
    q = spark.read.parquet(p)  # real source → Catalyst size estimate
    df = knn_join(d, q, 3, CFG)
    plan = explain_str(df)
    assert "hashpartitioning(cell" not in plan, plan
    assert "Window" in plan, plan


def test_hamming_streaming_kernel_plan(spark):
    """hamming_pairs must route distinct codes through ONE (chunk, cbits)
    repartition into a single streaming MapInPandas kernel — never a
    collect_list bucket expansion or a pair-level distinct after the
    kernel."""
    import pandas as pd
    from pyspark.sql import functions as F

    from python_prtree_spark.operators.dedup import hamming_pairs

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(8), "bits": [i * 7 for i in range(8)]}),
        schema="doc_id long, bits long",
    )
    df = hamming_pairs(docs, 3, bits_col="bits")
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "hashpartitioning(chunk" in plan, plan
    # one kernel node (each physical node prints twice in 'formatted':
    # a tree line "MapInPandas (n)" and a detail header "(n) MapInPandas")
    assert plan.count("MapInPandas (") == 1, plan
    assert "collect_list" not in plan, plan
    # the only Deduplicate is the code collapse BEFORE the kernel, keyed
    # on _bits — nothing deduplicates emitted pairs
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate [id_a" not in lp and "Deduplicate [bits_a" not in lp, lp


def test_embedding_streaming_kernel_plan(spark):
    """embedding_near_dup_pairs: ONE (band, bbits) repartition into the
    cosine-verify kernel; no bucket collect_list, no pair distinct, no
    mandatory broadcast hints."""
    import pandas as pd

    from python_prtree_spark.operators.dedup import embedding_near_dup_pairs

    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(8),
                      "embedding": [[float(i), 1.0, 0.0] for i in range(8)]}),
        schema="vec_id long, embedding array<double>",
    )
    df = embedding_near_dup_pairs(vecs, dim=3)
    plan = explain_str(df)
    assert "hashpartitioning(band" in plan, plan
    assert "collect_list" not in plan, plan
    lp = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in lp and "ResolvedHint" not in lp, lp


def test_salted_pairs_plan_single_exchange(spark):
    """query_intersections packed: exactly one data exchange, keyed on
    (cell, ka, kb), feeding the Arrow stream."""
    d = boxes_df(spark, rand_boxes(500, 99))
    df = query_intersections(d, CFG.with_(strategy="packed"))
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan
    assert "hashpartitioning(cell" in plan and "ka" in plan and "kb" in plan, plan


def test_ann_probe_broadcast_gated(spark, tmp_path):
    """VERDICT r2 item 7: the ANN probe-side broadcast must be gated on
    Catalyst's size estimate — a small parquet probe set keeps the
    mandatory hint, a large probe side goes un-hinted (AQE decides at
    runtime)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from python_prtree_spark.operators.ann import cosine_topk

    rng_rows = [[float(i % 7), 1.0, 0.5] for i in range(50)]
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(50), "embedding": rng_rows}),
        schema="vec_id long, embedding array<double>",
    )
    p_small = str(tmp_path / "small_probes")
    spark.createDataFrame(
        pd.DataFrame({"qid": range(4), "embedding": rng_rows[:4]}),
        schema="qid long, embedding array<double>",
    ).write.parquet(p_small)
    small = spark.read.parquet(p_small)
    lp = cosine_topk(corpus, small, 3)._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" in lp or "ResolvedHint" in lp, lp

    # large probe side: 2M rows from range → estimate far above the gate
    big = spark.range(2_000_000).select(
        F.col("id").alias("qid"),
        F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0)).alias("embedding"),
    )
    lp_big = cosine_topk(corpus, big, 3)._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in lp_big and "ResolvedHint" not in lp_big, lp_big


def test_sql_build_plan_jvm_only(spark):
    """The default build kernel must stay entirely JVM-side (VERDICT r1
    item 8: the JVM->Python Arrow transfer, not pack compute, dominated
    build cost): no Python eval nodes, exactly one aggregate exchange on
    (cell, salt), and the scan column-pruned to id + box columns."""
    from python_prtree_spark.operators.build import build_index

    d = boxes_df(spark, rand_boxes(500, 95))
    idx, _ = build_index(d, CFG, n_data_hint=500)
    plan = explain_str(idx)
    for bad in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert bad not in plan, plan
    assert plan.count("hashpartitioning(cell") == 1, plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan or "SortAggregate" in plan, plan


def test_plan_size_estimate_canary(spark):
    """Version canary for the ONE private-API touch every broadcast /
    strategy gate depends on (plans.explain.plan_size_estimate). If a
    PySpark bump moves `_jdf.queryExecution()...stats().sizeInBytes()`,
    this fails loudly instead of every gate silently degrading to its
    conservative fallback."""
    import pandas as pd

    from python_prtree_spark.plans.explain import plan_size_estimate

    df = spark.createDataFrame(
        pd.DataFrame({"a": range(100)}), schema="a long"
    )
    est = plan_size_estimate(df)
    assert est is not None and est > 0, (
        "plan_size_estimate returned None on a trivial local DataFrame — "
        "the private Catalyst stats API has moved; every size gate is "
        "now running on its conservative fallback"
    )


def test_ivf_centroid_sample_unbiased_on_clustered_corpus(spark):
    """VERDICT r3 item 5: the IVF centroid sample must be drawn from every
    partition, not whichever partitions answer a limit() first. Corpus:
    8 partitions, each holding one tight cluster. A limit()-style sample
    would see ~1-2 clusters; the hash-ordered sample must yield centroids
    spread across >= 6 of the 8 clusters."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark.operators.ann import ivf_topk

    d, per = 16, 400
    rng = np.random.default_rng(17)
    centers = rng.standard_normal((8, d)) * 10
    rows = []
    for ci, c in enumerate(centers):
        pts = c[None, :] + 0.01 * rng.standard_normal((per, d))
        for j, v in enumerate(pts):
            rows.append((ci * per + j, v.tolist()))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    # one cluster per partition: repartitionByRange on id puts contiguous
    # id blocks (= one cluster) into each partition
    corpus = (
        spark.createDataFrame(pdf, schema="vec_id long, embedding array<double>")
        .repartitionByRange(8, "vec_id")
    )
    probes = spark.createDataFrame(
        pd.DataFrame({"qid": range(8), "embedding": [c.tolist() for c in centers]}),
        schema="qid long, embedding array<double>",
    )
    # n_probe=1: each probe visits only its nearest centroid's list. With
    # per-cluster centroids the top-1 answer per center-probe is exact;
    # with collapsed (few-cluster) centroids most probes land in lists
    # that do not even contain their cluster's points.
    out = ivf_topk(
        corpus, probes, k=1, n_centroids=8, n_probe=1, sample_size=1000
    ).collect()
    ok = sum(1 for r in out if r["vec_id"] // per == r["qid"])
    assert ok >= 6, f"only {ok}/8 probes found their own cluster: {out}"


def test_fingerprint_overlap_plan(spark):
    """fingerprint_overlap_pairs: equi-join blocked shape — no cartesian,
    no mandatory broadcast of the per-document sizes relation."""
    import pandas as pd

    from python_prtree_spark.operators.dedup import fingerprint_overlap_pairs

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(6),
                      "text": [f"some text body number {i} " * 8 for i in range(6)]}),
        schema="doc_id long, text string",
    )
    for cap in (None, 1000):
        df = fingerprint_overlap_pairs(docs, max_fp_df=cap)
        assert_no_cartesian(df)
        lp = df._jdf.queryExecution().logical().toString()
        assert "UnresolvedHint" not in lp and "ResolvedHint" not in lp, lp


def test_substring_dedup_plan(spark):
    """substring_dup_groups: ONE Arrow kernel pass + ONE aggregate
    exchange on the substring hash; no joins at all (group form)."""
    import pandas as pd

    from python_prtree_spark.operators.dedup import substring_dup_groups

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(4),
                      "text": ["x" * 100, "y" * 100, "x" * 100, "z" * 30]}),
        schema="doc_id long, text string",
    )
    df = substring_dup_groups(docs)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert plan.count("MapInPandas (") == 1, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan or "SortAggregate" in plan, plan


def test_zonal_stats_plan(spark, tmp_path):
    """zonal_stats: keyed joins feeding ONE Arrow kernel — never a
    cartesian — and the SAT candidate phase must not drag tile bytes
    through the join: with parquet-backed tiles, the candidate-side scan
    is column-pruned to the footprint (bytes read only by the final
    per-tile join that feeds the decode kernel)."""
    from python_prtree_spark.operators.raster import zonal_stats
    from python_prtree_spark.sources.datagen import formula_tiles
    from tests.test_knn_pip import _convex_polys, _polys_df

    path = str(tmp_path / "tiles")
    formula_tiles(spark.range(0, 50)).write.parquet(path)
    tiles = spark.read.parquet(path)
    df = zonal_stats(tiles, _polys_df(spark, _convex_polys(10, 5)), CFG)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInPandas" in plan, plan
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(schemas) >= 2, plan
    assert any("bytes" not in ln for ln in schemas), schemas
    assert sum("bytes" in ln for ln in schemas) == 1, schemas


def test_rasterize_pyramid_plans(spark):
    """rasterize_counts: ONE exchange grouping routed boxes per tile —
    never a cartesian, no per-pixel rows crossing the shuffle.
    pyramid_level_values: ONE exchange keyed by the parent tile."""
    from python_prtree_spark.operators.raster import (
        pyramid_level_values,
        rasterize_counts,
        rasterize_tiles,
    )
    from tests.conftest import boxes_df, rand_boxes

    b = boxes_df(spark, rand_boxes(300, 41, ext_max=10.0))
    df = rasterize_counts(b, CFG, px=8)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("hashpartitioning(cell") == 1, plan

    df2 = pyramid_level_values(rasterize_tiles(b, CFG, px=8), level=CFG.level, px=8)
    assert_no_cartesian(df2)
    plan2 = explain_str(df2)
    assert "hashpartitioning(_parent" in plan2, plan2


def test_area_weighted_plan(spark):
    """area_weighted_transfer: cell-routed candidates (never cartesian),
    fixed-point refine + aggregate all JVM-side."""
    from pyspark.sql import functions as F

    from python_prtree_spark.operators.areal import area_weighted_transfer

    src = boxes_df(spark, rand_boxes(400, 95)).withColumn(
        "value", (F.col("id") % 100).cast("double")
    )
    zones = boxes_df(spark, rand_boxes(40, 96), "zone_id")
    df = area_weighted_transfer(src, zones, CFG.with_(strategy="sql"))
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "Join" in plan and "cell" in plan
    assert "BatchEvalPython" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_geo_distance_plan(spark):
    """geo_distance_join: the lng/lat window join stays cell-routed and
    the haversine refine is JVM column arithmetic."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark.operators.distance import GEO_CFG, geo_distance_join

    rng = np.random.default_rng(97)
    mk = lambda n, idc: spark.createDataFrame(
        pd.DataFrame({
            idc: np.arange(n),
            "lng": rng.uniform(-180, 180, n),
            "lat": rng.uniform(-85, 85, n),
        }), schema=f"{idc} long, lng double, lat double",
    )
    df = geo_distance_join(mk(400, "id"), mk(40, "qid"), 500.0,
                           GEO_CFG.with_(strategy="sql"))
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "Join" in plan and "cell" in plan
    assert "BatchEvalPython" not in plan, plan


def test_polygonize_plan_border_only_joins(spark):
    """polygonize_regions: exactly one pixel-granular Arrow stage (the
    per-tile labeling); everything after operates on region/border rows
    in JVM joins — never a cartesian."""
    from python_prtree_spark.operators.raster import (
        polygonize_regions,
        rasterize_counts,
    )

    b = boxes_df(spark, rand_boxes(100, 98, ext_max=6.0))
    df = polygonize_regions(rasterize_counts(b, CFG, px=8), CFG, px=8)
    assert_no_cartesian(df)
    plan = explain_str(df)
    # one labeling kernel + the upstream paint kernel — no other Python
    assert plan.count("FlatMapGroupsInPandas") <= 2, plan
    assert "HashAggregate" in plan, plan


def test_raster_algebra_plan_copartitioned(spark):
    """raster_algebra: ONE full-outer equi-join on the pixel key — both
    sides hash-partitioned the same way, no cartesian, no Python."""
    from python_prtree_spark.operators.raster import (
        raster_algebra,
        rasterize_counts,
    )

    a = rasterize_counts(boxes_df(spark, rand_boxes(100, 99)), CFG, px=8)
    b = rasterize_counts(boxes_df(spark, rand_boxes(100, 100)), CFG, px=8)
    df = raster_algebra(a, b, "subtract")
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "FullOuter" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_idw_grid_plan_single_shuffle(spark):
    """idw_grid: halo-routed samples take ONE exchange on the cell key
    into the paint kernel — no cross-tile combine stage, no cartesian."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark.operators.interpolate import idw_grid

    rng = np.random.default_rng(101)
    pts = spark.createDataFrame(
        pd.DataFrame({
            "x": rng.uniform(0, 100, 200), "y": rng.uniform(0, 100, 200),
            "value": rng.uniform(0, 5, 200),
        }), schema="x double, y double, value double",
    )
    df = idw_grid(pts, 3.0, CFG, px=8)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("hashpartitioning(cell") == 1, plan


def test_zonal_histogram_plan_decode_once(spark):
    """zonal_histogram shares the zonal plan: zones collect_list'd per
    tile (decode-once), histogram partials map-side-combined — no
    pair-level decode join, no cartesian."""
    from python_prtree_spark.operators.raster import zonal_histogram
    from python_prtree_spark.sources.datagen import formula_tiles
    from tests.test_knn_pip import _convex_polys, _polys_df

    df = zonal_histogram(
        formula_tiles(spark.range(0, 30)),
        _polys_df(spark, _convex_polys(10, 5)), CFG,
    )
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInPandas" in plan, plan
    assert "HashAggregate" in plan, plan


def test_focal_stats_plan_pure_jvm(spark):
    """focal_stats: sparse 9-position fan-out + ONE pixel-key groupBy —
    all JVM (generate + hash aggregate), no Python stage, no cartesian."""
    from python_prtree_spark.operators.raster import focal_stats

    df = spark.createDataFrame(
        [(0, 1, 1, 3), (1, 2, 2, 5)], "tile long, r int, c int, cnt long"
    )
    out = focal_stats(df, CFG, px=8, op="sum")
    assert_no_cartesian(out)
    plan = explain_str(out)
    assert "Generate" in plan, plan
    assert "HashAggregate" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan, plan


def test_nearest_segment_plan(spark):
    """nearest_segment_join: cell-routed bbox candidates, JVM refine,
    answer-sized window — no cartesian, no Python."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark.operators.linear import nearest_segment_join

    rng = np.random.default_rng(103)
    segs = spark.createDataFrame(
        pd.DataFrame({
            "seg_id": np.arange(100),
            "ax": rng.uniform(0, 100, 100), "ay": rng.uniform(0, 100, 100),
            "bx": rng.uniform(0, 100, 100), "by": rng.uniform(0, 100, 100),
        }), schema="seg_id long, ax double, ay double, bx double, by double",
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(20), "x": rng.uniform(0, 100, 20),
                      "y": rng.uniform(0, 100, 20)}),
        schema="qid long, x double, y double",
    )
    df = nearest_segment_join(segs, pts, 3.0, CFG.with_(strategy="sql"))
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "Join" in plan and "cell" in plan
    assert "Window" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_bm25_df_side_broadcast(spark):
    """bm25_scores: the per-term df table (<= |Q| rows) must broadcast —
    never shuffle the tf side on the term key."""
    import pandas as pd

    from python_prtree_spark.functions.text import bm25_scores

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(30),
        "text": [f"spark table tok{i} merge" for i in range(30)],
    }))
    df = bm25_scores(docs, ["spark", "table", "merge"])
    plan = explain_str(df)
    assert "BroadcastExchange" in plan, plan
    # the tf-vs-df join itself must be broadcast-hash, not a shuffled join
    # (the tiny df AGGREGATION may shuffle its own doc×term rows)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semantic_dedup_plan(spark):
    """semantic_dedup: the within-cluster compare must be an equi-join on
    (cluster_id, ba, bb) — never a cartesian product — and the fixed-point
    cosine must stay in JVM higher-order functions (no Python UDF in the
    pair stage; the only Python is the bounded centroid-assign map)."""
    import numpy as np
    import pandas as pd

    from python_prtree_spark.operators.semdedup import semantic_dedup

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((60, 8))
    pdf = pd.DataFrame({
        "vec_id": np.arange(60, dtype=np.int64),
        "embedding": [list(map(float, v)) for v in vecs],
    })
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.9, n_clusters=1, n_blocks=4)
    assert_no_cartesian(out)
    plan = explain_str(out)
    # single-cluster config: zero Python stages at all
    assert "pythonUDF" not in plan and "MapInPandas" not in plan, plan


def test_st_cube_plan_single_exchange(spark):
    """st_cube: pure column expressions into one partial-aggregated
    groupBy — exactly ONE exchange, zero Python stages."""
    import datetime as dt

    import pandas as pd

    from python_prtree_spark.operators.stcube import st_cube

    df = spark.createDataFrame(
        pd.DataFrame({
            "ts": [dt.datetime(2026, 1, 1, h) for h in range(20)],
            "lng": [float(i) for i in range(20)],
            "lat": [float(i % 5) for i in range(20)],
            "value": [1.5] * 20,
        })
    )
    import re

    plan = explain_str(st_cube(df, zoom=5, window_sec=3600))
    # formatted mode prints each node twice (tree + detail) — count the
    # numbered detail headers
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "pythonUDF" not in plan and "MapInPandas" not in plan, plan


def test_dataset_split_plan_no_shuffle(spark):
    """split_assign is a pure projection: ZERO exchanges."""
    from python_prtree_spark.operators.split import split_assign

    df = spark.range(100).withColumnRenamed("id", "k")
    plan = explain_str(split_assign(df, {"a": 0.5, "b": 0.5}, key="k"))
    assert "Exchange" not in plan, plan


def test_funnel_plan_no_explosion(spark):
    """funnel: aggregations + equi-joins only — no Generate (explode), no
    cartesian, no Python."""
    import datetime as dt

    import pandas as pd

    from python_prtree_spark.operators.funnel import funnel

    df = spark.createDataFrame(
        pd.DataFrame({
            "user_id": [1, 1, 2],
            "ts": [dt.datetime(2026, 1, 1, h) for h in (1, 2, 3)],
            "event_type": ["a", "b", "a"],
        })
    )
    out = funnel(df, ["a", "b"], 3600)
    assert_no_cartesian(out)
    plan = explain_str(out)
    assert "Generate" not in plan and "pythonUDF" not in plan, plan


def test_geohash_plan_pure_projection(spark):
    from python_prtree_spark.functions.geo import geohash_col
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        (F.col("id") * 1.0).alias("lng"), (F.col("id") * 0.5).alias("lat")
    )
    plan = explain_str(df.select(geohash_col(F.col("lng"), F.col("lat"), 7)))
    assert "Exchange" not in plan and "pythonUDF" not in plan, plan


def test_gi_star_plan_pure_jvm_broadcast_moments(spark):
    """gi_star: sparse 9x fan-out + ONE pixel-key groupBy, global moments
    arriving via broadcast — zero Python stages, no cartesian blow-up
    (the single-row moments crossJoin is a broadcast nested loop)."""
    import pandas as pd

    from python_prtree_spark import EngineConfig, Extent
    from python_prtree_spark.operators.hotspot import gi_star

    df = spark.createDataFrame(
        pd.DataFrame({"tile": [0, 1], "r": [1, 2], "c": [3, 4],
                      "cnt": [5, 6]}),
        "tile long, r int, c int, cnt long",
    )
    cfg = EngineConfig(extent=Extent(0, 0, 100, 100), level=2, strategy="sql")
    plan = explain_str(gi_star(df, cfg, px=4))
    assert "pythonUDF" not in plan and "MapInPandas" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_heavy_hitters_plan_prune_then_broadcast_semi(spark):
    """heavy_hitters: Arrow-batched partition prune feeding a BROADCAST
    left-semi join — the full token stream must NOT hash-shuffle before
    the candidate filter."""
    import pandas as pd

    from python_prtree_spark.operators.freq import heavy_hitters

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b", "b c"]}),
        "doc_id long, text string",
    )
    plan = explain_str(heavy_hitters(df, 2))
    assert "MapInPandas" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_local_moran_plan_pure_jvm_broadcast_moments(spark):
    """local_moran: same contract as gi_star — sparse fan-out + ONE
    pixel-key groupBy, broadcast moments, zero Python stages (the center
    value rides the groupBy as a conditional sum, no self-join)."""
    import pandas as pd

    from python_prtree_spark import EngineConfig, Extent
    from python_prtree_spark.operators.hotspot import local_moran

    df = spark.createDataFrame(
        pd.DataFrame({"tile": [0, 1], "r": [1, 2], "c": [3, 4],
                      "cnt": [5, 6]}),
        "tile long, r int, c int, cnt long",
    )
    cfg = EngineConfig(extent=Extent(0, 0, 100, 100), level=2, strategy="sql")
    plan = explain_str(local_moran(df, cfg, px=4))
    assert "pythonUDF" not in plan and "MapInPandas" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert plan.count("SortMergeJoin") == 0, plan


def test_group_quantiles_plan_histogram_only(spark):
    """group_quantiles: the rows are touched by ONE partial-aggregating
    histogram groupBy; the cumulative window runs over the (group, value)
    histogram, never the rows — no Python stages, no row-level sort
    beyond the tiny histogram's window sort."""
    import pandas as pd

    from python_prtree_spark.operators.freq import group_quantiles

    df = spark.createDataFrame(
        pd.DataFrame({"g": [1, 2], "v": [3, 4]}), "g long, v long")
    plan = explain_str(group_quantiles(df, "g", "v", [0.5, 0.9]))
    assert "pythonUDF" not in plan and "MapInPandas" not in plan, plan
    # map-side combine before the shuffle: a partial aggregate node
    # appears under the first exchange
    assert "partial_count" in plan or "Partial" in plan, plan


def test_augment_and_ahash_plan_no_exchange(spark):
    """augment_checksums / image_ahash: one Arrow-batched map stage per
    input split — ZERO exchanges."""
    import pandas as pd

    from python_prtree_spark.operators.multimodal import (
        augment_checksums,
        image_ahash,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"image_id": [0], "bytes": [b""]}),
        "image_id long, bytes binary",
    )
    assert "Exchange" not in explain_str(augment_checksums(df, 8, 8))
    assert "Exchange" not in explain_str(image_ahash(df))


def test_token_drift_plan_single_groupby_takeordered(spark):
    """token_drift: ONE hash exchange (the conditional-sum token groupBy
    — no join between slices), broadcast totals, and a distributed
    TakeOrdered for the top-k (never a global sort)."""
    import pandas as pd

    from python_prtree_spark.functions.text import token_drift

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["a b", "b c"], "is_a": [True, False]}),
        "text string, is_a boolean",
    )
    import re

    plan = explain_str(token_drift(df, "is_a", k=5))
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "pythonUDF" not in plan and "MapInPandas" not in plan, plan


def test_pagerank_plan_jvm_only_no_cartesian(spark):
    """pagerank: K iterations of edge-key join + dst groupBy + node left
    join — pure JVM columns (integer DIV), no Python stages, no
    cartesian product; the driver for-loop only builds the plan."""
    import pandas as pd

    from python_prtree_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1], "dst": [1, 0]}), "src long, dst long")
    plan = explain_str(pagerank(df, n_iter=2))
    assert "pythonUDF" not in plan and "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bilinear_plan_no_exchange(spark):
    """resize_bilinear_checksums: one Arrow-batched map stage — ZERO
    exchanges (embarrassingly parallel resampling)."""
    import pandas as pd

    from python_prtree_spark.operators.multimodal import (
        resize_bilinear_checksums,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"image_id": [0], "bytes": [b""]}),
        "image_id long, bytes binary",
    )
    assert "Exchange" not in explain_str(resize_bilinear_checksums(df, 8, 8))


def test_resize_nn_plan_no_exchange(spark):
    """resize_nn_checksums: one Arrow-batched map stage per input split —
    ZERO exchanges (embarrassingly parallel thumbnailing)."""
    import pandas as pd

    from python_prtree_spark.operators.multimodal import resize_nn_checksums

    df = spark.createDataFrame(
        pd.DataFrame({"image_id": [0], "bytes": [b""]}),
        "image_id long, bytes binary",
    )
    plan = explain_str(resize_nn_checksums(df, 8, 8))
    assert "Exchange" not in plan, plan


def test_trajectory_hausdorff_plan_jvm_exact_phase(spark):
    """trajectory_hausdorff_join: the exact phase is pure-JVM hash
    aggregation on pair keys (partial min/max map-side combines), the
    point-pair joins are equi-joins (hash/SMJ), and the ONLY
    nested-loop join is the entity-level bbox prefilter — a frame with
    one row per entity, orders smaller than the ping data. No Python
    stages anywhere."""
    from python_prtree_spark.operators.trajectory import (
        trajectory_hausdorff_join,
    )

    from pyspark.sql import functions as F

    pings = spark.range(100).select(
        (F.col("id") % 10).alias("user_id"),
        (F.col("id") * 0.01).alias("lng"),
        (F.col("id") * 0.007).alias("lat"),
    )
    plan = explain_str(trajectory_hausdorff_join(pings, 0.5))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the pair-key exact phase must hash-join, not nested-loop: every
    # NestedLoop occurrence is the bbox-dim join (joins box-aggregated
    # rows only, never the raw point frames)
    assert plan.count("HashAggregate") >= 4, plan


def test_hist_equalize_plan_no_exchange(spark):
    """hist_equalize_checksums: one Arrow-batched map stage per split —
    ZERO exchanges (the per-image histogram/CDF/remap is task-local)."""
    import pandas as pd

    from python_prtree_spark.operators.multimodal import (
        hist_equalize_checksums,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"image_id": [0], "bytes": [b""]}),
        "image_id long, bytes binary",
    )
    plan = explain_str(hist_equalize_checksums(df))
    assert "Exchange" not in plan, plan


def test_decontaminate_plan_broadcast_eval_no_python(spark):
    """decontaminate: eval gram set must BROADCAST into the hit join
    (the train gram stream shuffles once for its own distinct/groupBy,
    never hash-exchanges against eval), and gram construction is pure
    JVM higher-order functions — no Python stage anywhere."""
    import pandas as pd

    from python_prtree_spark.operators.dedup import decontaminate

    t = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b c d e f"]}),
        "doc_id long, text string",
    )
    e = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "text": ["a b c d e"]}),
        "doc_id long, text string",
    )
    df = decontaminate(t, e, n=5)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_convex_hull_plan_prune_before_python(spark):
    """convex_hull: the Akl-Toussaint prune must be a plain JVM Filter
    UNDER the mapInPandas chain stages (points that octagon-prune never
    reach Python), and there is no cartesian anywhere."""
    import pandas as pd

    from python_prtree_spark.operators.polygon import convex_hull

    pts = spark.createDataFrame(
        pd.DataFrame({"x": [0, 0, 9, 9, 4, 5], "y": [0, 9, 0, 9, 4, 5]}),
        "x long, y long",
    )
    df = convex_hull(pts)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInPandas" in plan, plan
    assert "Filter" in plan, plan


def test_hull_diameter_pairs_only_on_hull(spark):
    """hull_diameter: the quadratic stage is a cross join of the TINY
    hull frame with itself — assert the join inputs are the Python
    chain outputs (mapInPandas), i.e. the n^2 never touches raw input."""
    import pandas as pd

    from python_prtree_spark.operators.polygon import hull_diameter

    pts = spark.createDataFrame(
        pd.DataFrame({"x": [0, 0, 9, 9, 4], "y": [0, 9, 0, 9, 4]}),
        "x long, y long",
    )
    plan = explain_str(hull_diameter(pts))
    assert "MapInPandas" in plan, plan


def test_focal_median_plan_single_exchange_jvm(spark):
    """focal_median: one groupBy exchange on the global pixel key, the
    median via array_sort/element_at — pure JVM, no Python stage."""
    import pandas as pd

    from python_prtree_spark.operators.raster import focal_median

    pxs = spark.createDataFrame(
        pd.DataFrame({"tile": [0, 1], "r": [1, 2], "c": [1, 2],
                      "cnt": [5, 6]}),
        "tile long, r int, c int, cnt long",
    )
    df = focal_median(pxs, CFG, px=16)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_lbp_plan_copartitioned_join_groupby(spark):
    """local_binary_pattern: the center join and the bit groupBy share
    the (gx, gy) key — pure JVM, no cartesian, no Python."""
    import pandas as pd

    from python_prtree_spark.operators.raster import local_binary_pattern

    pxs = spark.createDataFrame(
        pd.DataFrame({"tile": [0, 1], "r": [1, 2], "c": [1, 2],
                      "cnt": [5, 6]}),
        "tile long, r int, c int, cnt long",
    )
    df = local_binary_pattern(pxs, CFG, px=16)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_tile_integral_plan_tile_scoped_windows(spark):
    """tile_integral: both cumulative passes are WINDOW stages keyed
    inside the tile — no Python, no cartesian, and the lattice join is
    an equi-join on (tile, r, c)."""
    import pandas as pd

    from python_prtree_spark.operators.raster import tile_integral

    pxs = spark.createDataFrame(
        pd.DataFrame({"tile": [0, 1], "r": [1, 2], "c": [1, 2],
                      "cnt": [5, 6]}),
        "tile long, r int, c int, cnt long",
    )
    df = tile_integral(pxs, CFG, px=16)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "Window" in plan, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_ripley_k_plan_single_spatial_join(spark):
    """ripley_k: ONE cell-keyed spatial join at r_max (cell-routed
    batch_query — never cartesian), bucketing and the ladder cumsum ride
    a tiny Window; no Python stage."""
    import pandas as pd

    from python_prtree_spark.operators.distance import ripley_k

    pts = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "x": [10, 20, 80], "y": [10, 20, 80]}),
        "id long, x long, y long",
    )
    df = ripley_k(pts, [5, 50], CFG)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "cell" in plan, plan
    assert "Window" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_gopher_filter_plan_pure_jvm(spark):
    """gopher_filter: verdicts are column arithmetic over
    repetition_stats' groupBys — no Python, no cartesian."""
    import pandas as pd

    from python_prtree_spark.functions.text import gopher_filter

    df = gopher_filter(spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b c"]}),
        "doc_id long, text string",
    ))
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_histogram_match_plan_broadcast_remap(spark):
    """histogram_match: the remap of the big source side must be a
    BROADCAST join of the tiny mapping table; no Python, no cartesian
    (the histogram inequality join is broadcast-nested-loop over two
    value-domain-sized frames, which assert_no_cartesian permits)."""
    import pandas as pd

    from python_prtree_spark.operators.raster import histogram_match

    src = spark.createDataFrame(
        pd.DataFrame({"tile": [0, 1], "r": [0, 1], "c": [0, 1],
                      "cnt": [3, 5]}),
        "tile long, r int, c int, cnt long",
    )
    ref = spark.createDataFrame(
        pd.DataFrame({"tile": [0], "r": [0], "c": [0], "cnt": [9]}),
        "tile long, r int, c int, cnt long",
    )
    plan = explain_str(histogram_match(src, ref))
    assert "BroadcastHashJoin" in plan, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_terrain_indices_plan_copartitioned_jvm(spark):
    """terrain_indices: 8x fan-out + one co-partitioned pixel-key
    join+groupBy — pure JVM, no cartesian."""
    import pandas as pd

    from python_prtree_spark.operators.raster import terrain_indices

    pxs = spark.createDataFrame(
        pd.DataFrame({"tile": [0], "r": [1], "c": [1], "cnt": [5]}),
        "tile long, r int, c int, cnt long",
    )
    df = terrain_indices(pxs, CFG, px=16)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_fast_corners_plan_pure_jvm_bitruns(spark):
    """fast_corners: the 16-tap ring join and the shift-AND run test
    must compile to JVM column arithmetic — no Python stage."""
    import pandas as pd

    from python_prtree_spark.operators.raster import fast_corners

    pxs = spark.createDataFrame(
        pd.DataFrame({"tile": [0], "r": [1], "c": [1], "cnt": [5]}),
        "tile long, r int, c int, cnt long",
    )
    df = fast_corners(pxs, 0, 9, CFG, px=16)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_triangle_counts_plan_equijoins_only(spark):
    """triangle_counts: wedge + closing stages are equi-joins (never
    cartesian), pure JVM."""
    import pandas as pd

    from python_prtree_spark.operators.graph import triangle_counts

    e = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 3], "b": [2, 3, 1]}), "a long, b long"
    )
    df = triangle_counts(e)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_typo_pairs_plan_variant_equijoin(spark):
    """typo_pairs: candidates come from an equi-join on the deletion
    variant key — no cartesian, no Python."""
    import pandas as pd

    from python_prtree_spark.operators.dedup import typo_pairs

    df = typo_pairs(spark.createDataFrame(
        pd.DataFrame({"text": ["abc", "abd", "xyz"]}), "text string"
    ))
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_interval_join_plan_cell_routed(spark):
    """interval_overlap_join: must inherit batch_query's cell-keyed
    join — never an inequality-only (nested-loop) join."""
    import pandas as pd

    from python_prtree_spark.operators.asof import interval_overlap_join

    cfg = EngineConfig(extent=Extent(0.0, 0.0, 1000.0, 1.0), level=4)
    a = spark.createDataFrame(
        pd.DataFrame({"a_id": [1], "start": [10.0], "end": [20.0]}),
        "a_id long, start double, end double",
    )
    b = spark.createDataFrame(
        pd.DataFrame({"b_id": [2], "start": [15.0], "end": [25.0]}),
        "b_id long, start double, end double",
    )
    df = interval_overlap_join(a, b, cfg)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "cell" in plan, plan


def test_iou_match_plan_single_img_shuffle(spark):
    """iou_match: ONE hash exchange on the image id feeding ONE Arrow
    kernel — no join, no cartesian, no cross-image traffic."""
    import re

    import pandas as pd

    from python_prtree_spark.operators.nms import iou_match

    dets = spark.createDataFrame(
        pd.DataFrame({
            "img": [0, 0, 1], "id": [1, 2, 3], "score": [9, 8, 7],
            "xmin": [0.0] * 3, "ymin": [0.0] * 3,
            "xmax": [4.0] * 3, "ymax": [4.0] * 3,
        })
    )
    gts = spark.createDataFrame(
        pd.DataFrame({
            "img": [0], "id": [10],
            "xmin": [0.0], "ymin": [0.0], "xmax": [4.0], "ymax": [4.0],
        })
    )
    df = iou_match(dets, gts, 1, 2)
    assert_no_cartesian(df)
    plan = explain_str(df)
    # formatted explain names each node twice (tree + detail section)
    assert plan.count("FlatMapGroupsInPandas") <= 2, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert len(re.findall(r"hashpartitioning\(img", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_anchor_assign_plan_pure_jvm_one_shuffle(spark):
    """anchor_assign: pure JVM (explode + one (img, anchor) aggregate) —
    no Python stage, no join, the implicit grid never materialized."""
    import pandas as pd

    from python_prtree_spark.operators.anchors import anchor_assign

    gts = spark.createDataFrame(
        pd.DataFrame({
            "id": [1], "img": [0],
            "xmin": [0.0], "ymin": [0.0], "xmax": [2.0], "ymax": [2.0],
        })
    )
    df = anchor_assign(gts, stride=2, sizes=(1, 2))
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "FlatMapGroupsInPandas" not in plan and "pythonUDF" not in plan, plan
    assert "Join" not in plan, plan
    assert "hashpartitioning(img" in plan, plan


def test_loaded_index_read_plan_jvm_only(spark, tmp_path):
    """LoadedIndex.batch_query descends leaf MBBs in Spark SQL: no Python
    node of any kind in the read plan, centroids included."""
    from python_prtree_spark import load_index, save_index

    path = str(tmp_path / "idx")
    save_index(boxes_df(spark, rand_boxes(300, 98, ext_max=5.0)), path, CFG)
    q = spark.range(5).selectExpr(
        "id AS qid", "id * 10.0 AS xmin", "id * 10.0 AS ymin",
        "id * 10.0 + 5 AS xmax", "id * 10.0 + 5 AS ymax",
    )
    plan = explain_str(load_index(spark, path).batch_query(q, with_centroids=True))
    for node in ("FlatMapCoGroupsInPandas", "ArrowEvalPython",
                 "MapInPandas", "MapInArrow", "BatchEvalPython"):
        assert node not in plan, plan
    assert "inline(arrays_zip" in plan, plan
