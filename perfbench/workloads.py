"""The two workloads. Each drives the package only through its public
functions, checks every result against a numpy brute force or an exact
invariant, and times each public call inside a span named after the module
(the layer) it belongs to.

A workload offers:
  setup(r)   set-up r: generate and persist its inputs, then one warm-up
             pass over the plan shapes the timed loop repeats (the runner
             does three and reports the median); returns check failures;
  oracle()   untimed: collect what the remaining checks compare against;
  step(k)    client operation k of the closed loop; returns a list of check
             failures, empty when every output is right;
  kind(k)    what operation k is ("iteration", "query" or "commit");
  detail()   workload-specific metrics and the facts a reader needs to
             repeat the run (sizes, resolved strategies).
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
from pyspark.sql import functions as F

from python_prtree_spark import (
    EngineConfig, Extent, PRTreeTable, batch_query, build_index, index_snapshots,
    load_index, query_intersections, save_index, zonal_stats,
)
from python_prtree_spark.functions.codec import decode_image
from python_prtree_spark.operators.ann import ivf_topk
from python_prtree_spark.operators.dedup import minhash_lsh_pairs
from python_prtree_spark.operators.multimodal import recompute_phash
from python_prtree_spark.sources.datagen import image_table

from perfbench import inputs as gen


def _strategy(df) -> str:
    """'packed' when the analyzed plan runs a Python kernel, else 'sql'."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return "packed" if ("MapInArrow" in plan or "FlatMapCoGroups" in plan) else "sql"


def _pct(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _pair_sets(rows, key: str, other: str) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r[key], set()).add(r[other])
    return out


class Workload:
    def __init__(self, spark, seed: int, work: str, rec):
        self.spark, self.seed, self.rec = spark, seed, rec
        self.rng = np.random.default_rng([seed, 1])
        self.strategies: dict[str, str] = {}

    def kind(self, k: int) -> str:
        return self.op_kind

    def _ms(self, layer: str, call: str) -> list[float]:
        return [s.ms for s in self.rec.calls(layer=layer, call=call)]


# --------------------------------------------------------------------------
# bulk: offline index construction, joins and the curation pass
# --------------------------------------------------------------------------

class Bulk(Workload):
    """Offline batch work. A "spatial" operation runs build_index,
    batch_query and query_intersections, each forced by one action.

    Traced runs add the image+caption curation pass as their last
    operation: zonal_stats, minhash_lsh_pairs, ivf_topk and
    recompute_phash over seeded tiles, captions and embeddings. Timed runs,
    kept to about a minute each, leave it out: it would add about a third.
    It goes last because it slows the spatial operation after it."""

    op_kind = "spatial"
    SPATIAL_OPS = 6
    N_DATA, N_PROBE, N_SELF = 60_000, 15_000, 20_000
    N_IMG, N_VEC, N_TRI, N_QVEC, TOP_K = 300, 3_000, 64, 32, 10
    SAMPLE = 64
    LEVEL, SALT_THRESHOLD = 4, 5_000
    MINHASH_THRESHOLD = 0.8
    IMG_EXTENT = 110.0

    def __init__(self, spark, seed, work, rec):
        super().__init__(spark, seed, work, rec)
        side = 100.0 / (1 << self.LEVEL)
        hx, hy = self.rng.integers(1, (1 << self.LEVEL) - 1, 2)
        # 30 % of the data rows in a 2x2 square inside one cell: that cell
        # holds ~3.6 salt thresholds, so the sampled histogram runs and salts
        self.data = gen.BoxSet(seed, 1, 0, self.N_DATA, hot_share=0.3,
                               hot_at=(hx * side + 2.0, hy * side + 2.0), hot_span=2.0)
        self.probes = gen.BoxSet(seed, 2, 0, self.N_PROBE, id_col="qid")
        self.selfset = gen.BoxSet(seed, 3, 0, self.N_SELF, wspan=0.3)
        self.cfg = EngineConfig(extent=Extent(0, 0, 100, 100), level=self.LEVEL,
                                salt_threshold=self.SALT_THRESHOLD)
        # the auto crossover to the packed (PBSM) join sits at 1M data rows,
        # too many for a one-minute run: pin it so the Python kernel is measured
        self.join_cfg = self.cfg.with_(strategy="packed")
        self.img_cfg = EngineConfig(extent=Extent(0, 0, self.IMG_EXTENT, self.IMG_EXTENT), level=3)
        self.img_path = os.path.join(work, "inputs", "images")
        self.vec_path = os.path.join(work, "inputs", "embeddings")
        self.counts: dict[str, int] = {}
        self.curate = rec.tag_jobs
        self.min_ops = self.SPATIAL_OPS + self.curate
        self._oracles()

    def _oracles(self) -> None:
        _, d = self.data.arrays()
        _, q = self.probes.arrays()
        self.join_sample = sorted(self.rng.choice(self.N_PROBE, self.SAMPLE, replace=False).tolist())
        self.join_expect = {i: set(np.nonzero(gen.overlaps(q[i], d))[0].tolist())
                            for i in self.join_sample}
        _, s = self.selfset.arrays()
        self.self_sample = sorted(self.rng.choice(self.N_SELF, self.SAMPLE, replace=False).tolist())
        self.self_expect = {i: set(np.nonzero(gen.overlaps(s[i], s))[0].tolist()) - {i}
                            for i in self.self_sample}
        ids = np.arange(self.N_IMG, dtype=np.int64)
        self.captions = gen.caption_sets(ids, self.seed)
        self.injected = gen.injected_pairs(ids)
        self.tris = gen.triangles(self.seed, self.N_TRI, self.IMG_EXTENT)

    def _prepare(self) -> None:
        i = F.col("id")
        with self.rec.span("datagen", "image_table"):
            image_table(self.spark, self.N_IMG, self.seed, extent_scale=0.1).select(
                i.alias("image_id"), "bytes", "phash", *gen.BOX,
                gen.caption_col(i, self.seed).alias("caption"),
            ).write.mode("overwrite").parquet(self.img_path)
            gen.embeddings_df(self.spark, self.seed, self.N_VEC).write.mode(
                "overwrite").parquet(self.vec_path)
        self.images = self.spark.read.parquet(self.img_path)
        self.vectors = self.spark.read.parquet(self.vec_path)
        self.tris_df = gen.triangles_df(self.spark, self.seed, self.N_TRI, self.IMG_EXTENT)

    def oracle(self) -> list[str]:
        """Traced runs generate the curation inputs here, outside set-up,
        so traced and untraced set-ups stay the same work."""
        if not self.curate:
            return []
        self._prepare()
        rows = self.images.select("image_id", "bytes", "phash", *gen.BOX).collect()
        self.phash = {r["image_id"]: r["phash"] for r in rows}
        tiles = [(decode_image(bytes(r["bytes"])), tuple(r[c] for c in gen.BOX)) for r in rows]
        self.zonal_expect = gen.zonal_oracle(tiles, self.tris)
        return self._count_candidates()

    def setup(self, rep: int) -> list[str]:
        return self._spatial(distinct_ids=rep == 0)

    def kind(self, k: int) -> str:
        return "curate" if self.curate and k == self.SPATIAL_OPS else "spatial"

    def step(self, k: int) -> list[str]:
        return self._curate() if self.kind(k) == "curate" else self._spatial()

    def _docs(self):
        return self.images.select(F.col("image_id").alias("doc_id"), F.col("caption").alias("text"))

    def _count_candidates(self) -> list[str]:
        """Unverified LSH candidates: their count is the denominator of
        dedup.verified_per_candidate."""
        with self.rec.span("dedup", "minhash_candidates"):
            self.counts["dedup.candidates"] = minhash_lsh_pairs(
                self._docs(), self.MINHASH_THRESHOLD, verify=False).count()
        return [] if self.counts["dedup.candidates"] > 0 else ["no LSH candidates"]

    def _spatial(self, distinct_ids: bool = False) -> list[str]:
        """``distinct_ids`` (the first set-up) counts the distinct ids in the
        packs, which must be every data row; timed operations only check
        that the packs hold at least that many ids (rows spanning several
        cells are stored once per cell)."""
        problems: list[str] = []
        rec = self.rec
        with rec.span("build", "build_index") as sp:
            idx, _ = build_index(self.data.df(self.spark), self.cfg)
            sp.returned()
            if distinct_ids:
                n_ids = idx.select(F.explode("ids").alias("i")).agg(F.count_distinct("i")).first()[0]
            else:
                n_ids = idx.agg(F.sum(F.size("ids"))).first()[0]
        if n_ids < self.N_DATA or (distinct_ids and n_ids != self.N_DATA):
            problems.append(f"build_index packs hold {n_ids} ids for {self.N_DATA} rows")

        sample = F.col("qid").isin(self.join_sample)
        with rec.span("probe", "batch_query") as sp:
            res = batch_query(self.data.df(self.spark), self.probes.df(self.spark), self.join_cfg)
            sp.returned()
            n_pairs, got = res.agg(
                F.count(F.lit(1)),
                F.collect_list(F.when(sample, F.struct("qid", "id"))),
            ).first()
        self.strategies.setdefault("batch_query", _strategy(res))
        problems += self._same_count("probe.pairs", n_pairs)
        got = _pair_sets(got, "qid", "id")
        bad = [q for q in self.join_sample if got.get(q, set()) != self.join_expect[q]]
        if bad:
            problems.append(f"batch_query wrong for probes {bad[:5]}")

        s = self.self_sample
        with rec.span("pairs", "query_intersections") as sp:
            res = query_intersections(self.selfset.df(self.spark), self.cfg)
            sp.returned()
            n_self, got = res.agg(
                F.count(F.lit(1)),
                F.collect_list(F.when(F.col("id_a").isin(s) | F.col("id_b").isin(s),
                                      F.struct("id_a", "id_b"))),
            ).first()
        self.strategies.setdefault("query_intersections", _strategy(res))
        problems += self._same_count("pairs.pairs", n_self)
        partners: dict[int, list[int]] = {}
        for a, b in got:
            if a >= b:
                problems.append(f"query_intersections pair ({a}, {b}) not ordered")
            partners.setdefault(a, []).append(b)
            partners.setdefault(b, []).append(a)
        bad = [i for i in s if sorted(partners.get(i, [])) != sorted(self.self_expect[i])]
        if bad:
            problems.append(f"query_intersections wrong for ids {bad[:5]}")
        return problems

    def _same_count(self, key: str, n: int) -> list[str]:
        want = self.counts.setdefault(key, n)
        return [] if n == want else [f"{key} {n} differs from first run {want}"]

    def _curate(self) -> list[str]:
        problems: list[str] = []
        rec = self.rec
        tiles = self.images.select("image_id", "bytes", *gen.BOX)
        with rec.span("raster", "zonal_stats") as sp:
            res = zonal_stats(tiles, self.tris_df, self.img_cfg)
            sp.returned()
            rows = res.collect()
        got = {r["poly_id"]: (r["n_px"], r["sum_val"], r["min_val"], r["max_val"]) for r in rows}
        if got != self.zonal_expect:
            problems.append("zonal_stats differs from the pixel brute force")

        with rec.span("dedup", "minhash_lsh_pairs") as sp:
            res = minhash_lsh_pairs(self._docs(), self.MINHASH_THRESHOLD)
            sp.returned()
            rows = res.collect()
        self.counts["dedup.verified"] = len(rows)
        found = set()
        for r in rows:
            a, b = sorted((r["id_a"], r["id_b"]))
            found.add((a, b))
            if gen.jaccard(self.captions[a], self.captions[b]) < self.MINHASH_THRESHOLD:
                problems.append(f"minhash pair ({a}, {b}) below threshold")
        missed = self.injected - found
        if missed:
            problems.append(f"minhash missed injected pairs {sorted(missed)[:5]}")

        probes = self.vectors.where(F.col("vec_id") < self.N_QVEC).select(
            F.col("vec_id").alias("qid"), "embedding")
        with rec.span("ann", "ivf_topk") as sp:
            res = ivf_topk(self.vectors, probes, self.TOP_K)
            sp.returned()
            rows = res.collect()
        ranks = {}
        for r in rows:
            ranks.setdefault(r["qid"], []).append(r["rank"])
        if len(ranks) != self.N_QVEC or any(
                sorted(v) != list(range(1, self.TOP_K + 1)) for v in ranks.values()):
            problems.append("ivf_topk did not return ranks 1..k for every probe")

        with rec.span("codec", "recompute_phash") as sp:
            res = recompute_phash(self.images.select("image_id", "bytes"))
            sp.returned()
            rows = res.collect()
        if {r["image_id"]: r["phash2"] for r in rows} != self.phash:
            problems.append("recompute_phash differs from the stored phash")
        return problems

    def detail(self, op_ms: dict[str, list[float]]) -> dict:
        calls = {c: self._ms(layer, c) for layer, c in (
            ("build", "build_index"), ("probe", "batch_query"),
            ("pairs", "query_intersections"), ("raster", "zonal_stats"),
            ("dedup", "minhash_lsh_pairs"), ("ann", "ivf_topk"),
            ("codec", "recompute_phash"))}
        calls = {c: v for c, v in calls.items() if v}
        med = {c: statistics.median(v) for c, v in calls.items()}
        m = {
            "build_rows_per_s": {"value": self.N_DATA / med["build_index"] * 1e3, "unit": "rows/s"},
            "join_rows_per_s": {"value": (self.N_DATA + self.N_PROBE) / med["batch_query"] * 1e3,
                                "unit": "rows/s"},
            "selfjoin_rows_per_s": {"value": self.N_SELF / med["query_intersections"] * 1e3,
                                    "unit": "rows/s"},
        }
        if self.curate:
            m["curate_rows_per_s"] = {"value": self.N_IMG / op_ms["curate"][0] * 1e3,
                                      "unit": "images/s"}
        return {
            "metrics": m,
            "calls_ms": calls,
            "sizes": {"data": self.N_DATA, "probes": self.N_PROBE, "self_join": self.N_SELF,
                      "images": self.N_IMG, "vectors": self.N_VEC, "triangles": self.N_TRI,
                      "hot_share": 0.3, "level": self.LEVEL,
                      "salt_threshold": self.SALT_THRESHOLD},
            "strategies": self.strategies,
            "counts": self.counts,
        }

    def layer_extras(self) -> dict:
        v, c = self.counts.get("dedup.verified"), self.counts.get("dedup.candidates")
        return {
            "probe.pairs": {"value": self.counts.get("probe.pairs", 0), "unit": "count"},
            "dedup.verified_per_candidate": {"value": v / c if c else 0.0, "unit": "ratio"},
        }


# --------------------------------------------------------------------------
# serve: one closed-loop client on a persisted index, reads beside commits
# --------------------------------------------------------------------------

class Serve(Workload):
    """Closed loop of localized LoadedIndex.batch_query reads; every
    COMMIT_EVERY-th operation commits instead (insert, erase,
    refresh_index, reopen with load_index)."""

    op_kind = "query"
    min_ops = 8
    N_INDEX, N_QUERY = 20_000, 100
    COMMIT_EVERY, N_INSERT, N_ERASE = 6, 300, 40
    LEVEL = 4

    def __init__(self, spark, seed, work, rec):
        super().__init__(spark, seed, work, rec)
        self.base = gen.BoxSet(seed, 1, 0, self.N_INDEX)
        self.cfg = EngineConfig(extent=Extent(0, 0, 100, 100), level=self.LEVEL)
        self.path = os.path.join(work, "index")
        self.live_ids, self.live_boxes = self.base.arrays()
        self.next_id = self.N_INDEX

    def setup(self, rep: int) -> list[str]:
        shutil.rmtree(self.path, ignore_errors=True)
        with self.rec.span("store", "save_index"):
            save_index(self.base.df(self.spark), self.path, self.cfg)
        with self.rec.span("store", "load_index"):
            self.index = load_index(self.spark, self.path)
        return self._query(-1 - rep)

    def oracle(self) -> list[str]:
        return []

    def step(self, k: int) -> list[str]:
        return self._commit(k) if self.kind(k) == "commit" else self._query(k)

    def kind(self, k: int) -> str:
        return "commit" if k % self.COMMIT_EVERY == self.COMMIT_EVERY - 1 else "query"

    def _query(self, k: int) -> list[str]:
        cells = 1 << self.LEVEL
        side = 100.0 / cells
        cx, cy = self.rng.integers(0, cells - 3, 2)
        lo = 1_000_000_000 + (k + 1) * 1000
        probes = gen.BoxSet(self.seed, 10, lo, lo + self.N_QUERY, x0=cx * side, y0=cy * side,
                            span=3 * side - 0.11, id_col="qid")
        with self.rec.span("store", "batch_query") as sp:
            res = self.index.batch_query(probes.df(self.spark, partitions=1))
            sp.returned()
            rows = res.collect()
        self.strategies.setdefault("LoadedIndex.batch_query", _strategy(res))
        got = {(r["qid"], r["id"]) for r in rows}
        qids, qboxes = probes.arrays()
        want = {(int(q), int(d)) for q, b in zip(qids, qboxes)
                for d in self.live_ids[gen.overlaps(b, self.live_boxes)]}
        return [] if got == want else [f"query {k}: {len(got ^ want)} pairs differ from brute force"]

    def _commit(self, k: int) -> list[str]:
        new = gen.BoxSet(self.seed, 20, self.next_id, self.next_id + self.N_INSERT)
        gone = self.rng.choice(self.live_ids, self.N_ERASE, replace=False).tolist()
        rec = self.rec
        with rec.span("mutate", "from_index"):
            table = PRTreeTable.from_index(self.spark, self.path)
        with rec.span("mutate", "insert"):
            table = table.insert(new.df(self.spark, partitions=1))
        with rec.span("mutate", "erase"):
            table = table.erase(gone)
        with rec.span("mutate", "refresh_index"):
            table.refresh_index(self.path)
        with rec.span("store", "load_index"):
            self.index = load_index(self.spark, self.path)
        self.next_id += self.N_INSERT
        new_ids, new_boxes = new.arrays()
        keep = ~np.isin(self.live_ids, gone)
        self.live_ids = np.concatenate([self.live_ids[keep], new_ids])
        self.live_boxes = np.concatenate([self.live_boxes[keep], new_boxes])
        n = self.index.size()
        return [] if n == len(self.live_ids) else [f"commit {k}: index holds {n} rows, want {len(self.live_ids)}"]

    def detail(self, op_ms: dict[str, list[float]]) -> dict:
        q = op_ms["query"]
        c = op_ms.get("commit", [])
        m = {
            "query_p50_ms": {"value": statistics.median(q), "unit": "ms"},
            "query_p90_ms": {"value": _pct(q, 90), "unit": "ms"},
        }
        if c:
            m["commit_p50_ms"] = {"value": statistics.median(c), "unit": "ms"}
        return {
            "metrics": m,
            "samples": {"query": len(q), "commit": len(c)},
            "sizes": {"index": self.N_INDEX, "probes_per_query": self.N_QUERY,
                      "commit_every": self.COMMIT_EVERY, "insert": self.N_INSERT,
                      "erase": self.N_ERASE, "level": self.LEVEL,
                      "live_rows": int(len(self.live_ids))},
            "strategies": self.strategies,
        }

    def layer_extras(self) -> dict:
        index_dir = os.path.join(self.path, "index")
        return {
            "store.load_ms": {"value": _median_or_zero(self._ms("store", "load_index")), "unit": "ms"},
            "store.snapshots": {"value": len(index_snapshots(self.path)), "unit": "count"},
            "store.bytes_per_row": {"value": _dir_bytes(index_dir) / len(self.live_ids), "unit": "B"},
            "mutate.insert_ms": {"value": _median_or_zero(self._ms("mutate", "insert")), "unit": "ms"},
            "mutate.erase_ms": {"value": _median_or_zero(self._ms("mutate", "erase")), "unit": "ms"},
            "mutate.refresh_ms": {"value": _median_or_zero(self._ms("mutate", "refresh_index")),
                                  "unit": "ms"},
        }


def _median_or_zero(v: list[float]) -> float:
    return statistics.median(v) if v else 0.0


WORKLOADS = {"bulk": Bulk, "serve": Serve}
