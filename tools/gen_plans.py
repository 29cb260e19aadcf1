"""Regenerate docs/PLANS.md — formatted physical plans of the headline
operators at sf0.01. Plan SHAPES are asserted by tests/test_plans.py on
every run; this file is the human-readable snapshot.

Usage: python tools/gen_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from python_prtree_spark.plans.explain import explain_str as fmt  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from python_prtree_spark import batch_query, query_intersections
    from python_prtree_spark.operators.build import build_index
    from python_prtree_spark.operators.dedup import minhash_lsh_pairs
    from python_prtree_spark.operators.nd import batch_query_nd

    pb = e.part_boxes(spark, sf)
    sp = e.supplier_probes(spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    sections = []

    sections.append((
        "batch_query — 'sql' strategy (pure JVM)",
        "Cell equi-join; whole-stage codegen end-to-end; reference-point "
        "filter inline; no Python in the plan. Catalyst free to pick "
        "broadcast vs sort-merge; AQE handles skew.",
        fmt(batch_query(pb, sp, e.CFG.with_(strategy="sql"))),
    ))
    sections.append((
        "batch_query — 'packed' strategy (PBSM mapInArrow)",
        "Tag+union both sides, ONE exchange on the cell key, in-partition "
        "sort, streaming Arrow kernel (STRPack build+probe per cell). No "
        "cartesian, no pair-level dedup shuffle (reference-point rule).",
        fmt(batch_query(pb, sp, e.CFG.with_(strategy="packed"))),
    ))
    sections.append((
        "batch_query_nd (D=3) — 'packed'",
        "Same PBSM single-exchange shape as 2D; dims 2..D-1 ride along and "
        "are refined inside the Arrow kernel.",
        fmt(batch_query_nd(
            e._nd_boxes(spark, sf, 3, *e._nd_args(3, sf)[0]),
            e._nd_boxes(spark, sf, 3, *e._nd_args(3, sf)[1]),
            3, e.CFG.with_(strategy="packed"), "id", "qid",
        )),
    ))
    sections.append((
        "query_intersections — packed self-join (shard-pair salted)",
        "One exchange on (cell, ka, kb); hot cells shard into S(S+1)/2 "
        "pack/probe key pairs so a skewed cell's quadratic candidate work "
        "spreads over tasks; pairs emitted once via role filtering + the "
        "reference-point cell rule. Cold cells carry the single (0,0) key.",
        fmt(query_intersections(pb, e.CFG.with_(strategy="packed"))),
    ))
    sections.append((
        "build_index — JVM-only SQL pack",
        "Explode covering cells → ONE aggregate exchange on (cell, salt) → "
        "collect_list → array_sort comparators compute the STR layout and "
        "leaf MBBs entirely JVM-side. No Python workers anywhere in the "
        "plan (the Arrow transfer, not pack compute, dominated build cost).",
        fmt(build_index(pb, e.CFG)[0]),
    ))
    sections.append((
        "distance_join — ±r square route + exact dist² refine",
        "Probe points expand to [p±r] squares through the same cell-routed "
        "join (candidate superset certificate), then a pure-JVM "
        "point-to-box distance predicate refines — no Python in the plan.",
        fmt(__import__("python_prtree_spark").distance_join(
            pb, e.customer_points(spark, sf), 2.0, e.CFG.with_(strategy="sql"),
            query_id="pid",
        )),
    ))
    sections.append((
        "knn_join — tiny probe batch → single-scan broadcast top-k",
        "Probes broadcast into an Arrow kernel over the data partitions "
        "(per-partition top-k superset incl. boundary ties), one skinny "
        "exchange for the global top-k window. ONE pass over the data "
        "side — the expanding-radius loop would pay one pass per round.",
        fmt(__import__("python_prtree_spark").knn_join(
            pb, spark.read.parquet(f"{sf}/supplier.parquet").selectExpr(
                "s_suppkey as qid",
                "CAST((s_suppkey * 377424577) % 100000 AS DOUBLE)/1000.0 as x",
                "CAST((s_suppkey * 285995483) % 100000 AS DOUBLE)/1000.0 as y",
            ), 5, e.CFG,
        )),
    ))
    sections.append((
        "dedup: minhash_lsh_pairs",
        "Signatures once (localCheckpoint reuse), bucket groupBy, "
        "member-info join, ONE exchange on (band, bkey) + in-partition "
        "sort feeding a streaming mapInPandas kernel that emits verified "
        "pairs from each pair's first colliding band — no pair-level "
        "distinct anywhere, no per-bucket Arrow batches.",
        fmt(minhash_lsh_pairs(docs, threshold=0.7)),
    ))
    from python_prtree_spark.operators.dedup import (
        embedding_near_dup_pairs, hamming_pairs,
    )
    from pyspark.sql import functions as F

    sections.append((
        "dedup: hamming_pairs (streaming pigeonhole kernel)",
        "Identical codes collapse (distinct) before pairing; distinct "
        "codes take ONE exchange on (chunk, cbits) + in-partition sort "
        "into a streaming mapInPandas kernel (SWAR popcount verify, "
        "first-colliding-chunk dedup, fixed slab memory); code pairs "
        "expand back to id pairs via two spillable equi-joins, and "
        "identical-code groups pair through a plain self equi-join — no "
        "collect_list of bucket members, no pair-level distinct.",
        fmt(hamming_pairs(
            docs.select(
                "doc_id",
                F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
                .cast("long").alias("code")),
            max_hamming=3, bits_col="code")),
    ))
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    sections.append((
        "dedup: embedding_near_dup_pairs (streaming cosine kernel)",
        "Sketch rows carry their vectors into ONE exchange on "
        "(band, bbits); the sorted-partition kernel pre-verifies cosine "
        "in BLAS slabs (threshold - 1e-6, first-colliding-band dedup) so "
        "only answer-sized candidates leave the worker; the JVM "
        "higher-order cosine join re-filters authoritatively.",
        fmt(embedding_near_dup_pairs(emb, threshold=0.95)),
    ))
    from python_prtree_spark.operators.raster import zonal_stats
    from python_prtree_spark.sources.datagen import formula_tiles

    sections.append((
        "zonal_stats — pixel-level raster↔vector aggregation",
        "SAT footprint join (bytes column pruned out of the candidate "
        "phase) → zones collect_list'd per tile → ONE decode per tile in "
        "the Arrow kernel, which emits tiny (zone, n, sum, min, max) "
        "partial rows → map-side-combined groupBy(poly_id). Pixels never "
        "shuffle; a zone covering the whole corpus aggregates partial "
        "rows, not pixels.",
        fmt(zonal_stats(
            formula_tiles(spark.read.parquet(f"{sf}/customer.parquet")
                          .selectExpr("CAST(c_custkey AS LONG) AS id")),
            e.nation_triangles(spark, sf), e.CFG,
        )),
    ))
    from python_prtree_spark.operators.raster import (
        pyramid_level_values, rasterize_counts, rasterize_tiles,
    )

    sections.append((
        "rasterize_counts — vector→raster difference-array paint",
        "Boxes explode to covering tiles (bounded duplication, same as "
        "the spatial join) → ONE exchange on the tile key → per-tile "
        "Arrow kernel paints with a difference array + 2D cumsum "
        "(O(boxes + px²) per tile — a huge box is 4 writes, never "
        "per-pixel rows) → sparse (tile, r, c, cnt) out.",
        fmt(rasterize_counts(e.supplier_probes(spark, sf), e.CFG)),
    ))
    sections.append((
        "pyramid_level_values — 2×2 tile-pyramid reduce",
        "Child PNG tiles route to their parent id (pure column expr) → "
        "ONE exchange on parent → decode/stitch/floor-mean kernel. "
        "Chained here over rasterize_tiles, exactly as the hash-gated "
        "driver entry runs it.",
        fmt(pyramid_level_values(
            rasterize_tiles(e.supplier_probes(spark, sf), e.CFG),
            level=e.CFG.level,
        )),
    ))
    from python_prtree_spark.operators.areal import area_weighted_transfer
    from python_prtree_spark.operators.distance import geo_distance_join
    from python_prtree_spark.operators.raster import (
        polygonize_regions, raster_algebra,
    )

    sections.append((
        "area_weighted_transfer — areal interpolation",
        "Zones route through the cell-partitioned candidate join, then a "
        "pure-JVM min/max intersection-area refine quantizes each pair's "
        "contribution to fixed point BEFORE the sum — long addition is "
        "order-independent, so the aggregate is partitioning-proof. "
        "Map-side combine on ~24-byte partials.",
        fmt(area_weighted_transfer(
            pb.withColumn("value", (F.col("id") % 100).cast("double")),
            sp.withColumnRenamed("qid", "zone_id"), e.CFG.with_(strategy="sql"),
        )),
    ))
    sections.append((
        "geo_distance_join — haversine ST_DWithin",
        "Probes expand to latitude windows + per-latitude adaptive "
        "longitude windows (antimeridian-splitting into disjoint "
        "segments), route through the same cell join on the lng/lat "
        "grid, and refine with the exact haversine in JVM column "
        "arithmetic — no Python anywhere.",
        fmt(geo_distance_join(
            e._read(spark, sf, "customer").selectExpr(
                "c_custkey AS id",
                "CAST((c_custkey * 941083987) % 360000 AS DOUBLE)/1000.0 - 180.0 AS lng",
                "CAST((c_custkey * 824633721) % 166000 AS DOUBLE)/1000.0 - 83.0 AS lat"),
            e._read(spark, sf, "supplier").selectExpr(
                "s_suppkey AS qid",
                "CAST((s_suppkey * 758888821) % 360000 AS DOUBLE)/1000.0 - 180.0 AS lng",
                "CAST((s_suppkey * 655326733) % 166000 AS DOUBLE)/1000.0 - 83.0 AS lat"),
            500.0,
        )),
    ))
    sections.append((
        "polygonize_regions — raster→vector region extraction",
        "Per-tile Arrow kernel labels pixels locally (the ONLY pixel-"
        "granular stage); border pixels equi-join their seam neighbors; "
        "large-star/small-star merges the region graph; final labels "
        "aggregate map-side. Pixels shuffle exactly once.",
        fmt(polygonize_regions(
            rasterize_counts(e.supplier_probes(spark, sf), e.CFG), e.CFG,
        )),
    ))
    sections.append((
        "raster_algebra — two-layer map algebra",
        "ONE co-partitioned full-outer equi-join on the pixel key; "
        "missing pixels coalesce to 0; integer arithmetic JVM-side; "
        "sparse output preserved.",
        fmt(raster_algebra(
            rasterize_counts(e.supplier_probes(spark, sf), e.CFG),
            rasterize_counts(pb, e.CFG), "subtract",
        )),
    ))
    from python_prtree_spark.operators.interpolate import idw_grid
    from python_prtree_spark.operators.raster import zonal_histogram
    from python_prtree_spark.operators.trajectory import trajectory_stats
    from python_prtree_spark.sources.datagen import formula_tiles

    sections.append((
        "idw_grid — IDW surface interpolation",
        "Samples expand by ±radius and route to covering tiles (halo — "
        "per-tile groups are complete, so no cross-tile combine exists), "
        "ONE exchange on the cell key into the chunked paint kernel; "
        "per-term fixed-point quantization makes the int64 sums "
        "order-independent.",
        fmt(idw_grid(
            e.customer_points(spark, sf).selectExpr(
                "x", "y", "CAST((pid * 53) % 1000 AS DOUBLE)/100.0 AS value"),
            3.0, e.CFG,
        )),
    ))
    sections.append((
        "trajectory_stats — per-entity haversine hops",
        "ONE shuffle on the entity key; (ts, id)-ordered window lag pairs "
        "pings, haversine evaluates in JVM columns, hops quantize to "
        "integer meters before the order-independent long sum.",
        fmt(trajectory_stats(
            e._read(spark, sf, "events").selectExpr(
                "user_id", "ts", "event_id",
                "CAST((event_id * 941083987) % 360000 AS DOUBLE)/1000.0 - 180.0 AS lng",
                "CAST((event_id * 824633721) % 166000 AS DOUBLE)/1000.0 - 83.0 AS lat"),
        )),
    ))
    from python_prtree_spark.operators.linear import (
        line_density, nearest_segment_join,
    )
    from python_prtree_spark.operators.raster import focal_stats

    segs = e._part_segments(spark, sf)
    sections.append((
        "nearest_segment_join — map-matching snap",
        "Point squares route through the cell join against segment "
        "bboxes; exact clamped-projection d² refines JVM-side; the "
        "per-point winner window runs over answer-sized candidates "
        "ranked on the QUANTIZED distance (engine-independent ties).",
        fmt(nearest_segment_join(
            segs, e.customer_points(spark, sf), 2.0, e.CFG, query_id="pid",
        )),
    ))
    sections.append((
        "line_density — per-cell clipped segment length",
        "Segments route to bbox-covering cells; the Liang–Barsky "
        "t-window evaluates as pure JVM when/division chains; "
        "fixed-point lengths aggregate map-side per cell.",
        fmt(line_density(segs, e.CFG)),
    ))
    sections.append((
        "focal_stats — 3×3 neighborhood aggregate",
        "Each sparse lit pixel fans out to its 9 neighbor positions "
        "(Generate, pure columns) and ONE global-pixel groupBy combines "
        "— the shuffle IS the cross-tile halo exchange; no Arrow stage.",
        fmt(focal_stats(
            rasterize_counts(e.supplier_probes(spark, sf), e.CFG), e.CFG,
        )),
    ))
    sections.append((
        "zonal_histogram — per-zone value distribution",
        "Shares the zonal decode-once plan: SAT candidates, zones "
        "collect_list'd per tile, kernel emits <= n_bins partial rows per "
        "(tile, zone), map-side-combined groupBy(poly_id, bin).",
        fmt(zonal_histogram(
            formula_tiles(spark.read.parquet(f"{sf}/customer.parquet")
                          .selectExpr("CAST(c_custkey AS LONG) AS id")),
            e.nation_triangles(spark, sf), e.CFG,
        )),
    ))

    lines = [
        "# PLANS — formatted physical plans of the headline operators",
        "",
        "Captured with `df.explain('formatted')` at sf0.01 (plan shapes are",
        "size-independent; `tests/test_plans.py` asserts the load-bearing",
        "properties on every run: no cartesian products, hash partitioning",
        "on the cell key, sort-before-Arrow-stream, column-pruned scans,",
        "no per-doc broadcast hints). Regenerate: `python tools/gen_plans.py`.",
        "",
    ]
    for title, blurb, plan in sections:
        lines += [f"## {title}", "", blurb, "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote docs/PLANS.md ({len(sections)} sections)")
    spark.stop()


if __name__ == "__main__":
    main()
