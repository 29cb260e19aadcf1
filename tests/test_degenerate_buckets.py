"""Degenerate-bucket stress for the streaming candidate kernels (VERDICT
r2 item 1): key distributions that put ALL rows into one LSH/pigeonhole
bucket must complete under the kernels' fixed slab memory budget with the
exact pair set — the previous collect_list-triangle plan exploded m²/2
candidate rows out of such buckets.

The corpora here are sized so the full numpy brute-force oracle runs in a
few seconds; the kernels' memory use is independent of bucket size by
construction (row-chunked slabs of _HAM_SLAB/_COS_SLAB elements)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from python_prtree_spark.operators.dedup import (
    _popcount64,
    embedding_near_dup_pairs,
    hamming_pairs,
)


def _brute_hamming_pairs(codes: np.ndarray, max_h: int) -> set[tuple[int, int]]:
    """O(n²) popcount oracle in row slabs (ids = positions)."""
    u = codes.view(np.uint64)
    n = len(u)
    out = set()
    step = max(1, (1 << 21) // n)
    col = np.arange(n)
    for lo in range(0, n, step):
        hi = min(lo + step, n)
        ham = _popcount64(u[lo:hi, None] ^ u[None, :])
        keep = (col[lo:hi, None] < col[None, :]) & (ham <= max_h)
        ii, jj = np.nonzero(keep)
        out.update(zip((ii + lo).tolist(), jj.tolist()))
    return out


def test_hamming_degenerate_chunk_bucket_exact(spark):
    """10^4 DISTINCT codes all sharing pigeonhole chunk 0 (the degenerate
    bucket: every row collides in one bucket; the old plan would expand
    ~5·10^7 candidate struct rows from a single collect_list row). The
    streaming kernel must return exactly the brute-force pair set."""
    n = 10_000
    rng = np.random.default_rng(31)
    # distinct high-48-bit patterns over a shared low-16-bit chunk
    high = np.unique(rng.integers(0, 1 << 47, size=n + 200, dtype=np.int64))
    rng.shuffle(high)
    high = high[:n]
    codes = (high << 16) | 0xABCD
    # plant near-duplicates in the HIGH bits (distance 3) so qualifying
    # pairs exist — random 48-bit patterns alone have essentially none
    planted = codes[:40] ^ (np.int64(0b111) << 17)
    allc = np.concatenate([codes, planted])
    expected = _brute_hamming_pairs(allc, 3)
    assert len(expected) >= 40  # the plant worked

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(allc)), "bits": allc}),
        schema="doc_id long, bits long",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in hamming_pairs(df, max_hamming=3, bits_col="bits").collect()
    }
    assert got == expected


def test_hamming_identical_code_collapse_exact_count(spark):
    """Rows sharing ONE constant code (the black-image phash case VERDICT
    r2 named): identical codes are collapsed before the kernel — the
    quadratic answer is produced by a distributed spillable equi-join,
    never a single-worker triangle — and the pair count is exact."""
    n = 5_000
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(n), "bits": np.full(n, 0x1234_5678_9ABC, np.int64)}),
        schema="doc_id long, bits long",
    )
    out = hamming_pairs(df, max_hamming=3, bits_col="bits")
    assert out.count() == n * (n - 1) // 2
    assert out.where("hamming != 0").count() == 0


def test_hamming_mixed_identical_and_near(spark):
    """Identical-code groups AND cross-code near-dups in one corpus: the
    union of the collapse path and the kernel path must equal brute force,
    with no duplicates across the two paths."""
    rng = np.random.default_rng(33)
    base = np.unique(rng.integers(0, 1 << 62, size=300, dtype=np.int64))[:200]
    # 3 copies of each code (identical groups) + a distance-2 partner for
    # every 5th code
    codes = np.concatenate([base, base, base, base[::5] ^ 0b101])
    expected = _brute_hamming_pairs(codes, 3)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(codes)), "bits": codes}),
        schema="doc_id long, bits long",
    )
    rows = hamming_pairs(df, max_hamming=3, bits_col="bits").collect()
    got = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(got) == len(set(got))  # exactly-once per pair
    assert set(got) == expected
    # spot-check reported distances
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    u = codes.view(np.uint64)
    for (a, b), h in list(ham.items())[:200]:
        assert h == int(_popcount64(np.array([u[a] ^ u[b]]))[0])


def test_embedding_degenerate_band_bucket_exact(spark):
    """10^4 vectors engineered to share LSH band 0 (one bucket holds the
    whole corpus; every pair's first colliding band is band 0). Planted
    exact duplicates plus a thin tail of natural pairs clear the 0.85
    threshold — the answer is ~700 pairs out of 5·10^7 candidates, so the
    in-kernel BLAS verify must keep emitted volume at answer size, and
    the output must equal the brute-force oracle exactly."""
    n, d, seed, n_planes = 10_000, 64, 7, 16
    rng_pl = np.random.Generator(np.random.PCG64(seed))
    planes = rng_pl.standard_normal((n_planes, d))  # replicate the op's planes
    c = planes[:4].sum(axis=0)
    c /= np.linalg.norm(c)
    rng = np.random.default_rng(35)
    w = rng.standard_normal((n, d))
    w /= np.linalg.norm(w, axis=1, keepdims=True)
    # common component c pins the first 4 plane signs (shared band 0, one
    # mega-bucket); 0.7-scale noise keeps natural pairwise cosine ~0.67,
    # far below the 0.85 threshold even at 5e7-pair tail depth
    V = c[None, :] + 0.7 * w
    # construction check: all rows share band 0 (first 4 plane signs)
    assert ((V @ planes[:4].T) > 0).all()
    dup_idx = np.arange(0, n, 200)  # 50 planted exact duplicates
    allV = np.concatenate([V, V[dup_idx]])
    ids = np.arange(len(allV))

    # brute-force oracle
    Vn = allV / np.linalg.norm(allV, axis=1, keepdims=True)
    thr = 0.85
    expected = set()
    step = max(1, (1 << 20) // len(ids))
    col = np.arange(len(ids))
    for lo in range(0, len(ids), step):
        hi = min(lo + step, len(ids))
        G = Vn[lo:hi] @ Vn.T
        keep = (col[lo:hi, None] < col[None, :]) & (G >= thr)
        ii, jj = np.nonzero(keep)
        expected.update(zip((ii + lo).tolist(), jj.tolist()))
    planted = {(int(i), int(n + k)) for k, i in enumerate(dup_idx)}
    assert planted <= expected           # every planted dup qualifies
    assert len(expected) < 2_000         # answer-sized, not bucket-triangle-sized

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": [v.tolist() for v in allV]}),
        schema="vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=thr, n_planes=n_planes, seed=seed, dim=d
        ).collect()
    }
    assert got == expected


def test_embedding_identical_vector_collapse_exact_count(spark):
    """ADVICE r3: a corpus of N IDENTICAL embeddings must go through the
    collapse-then-expand path — ONE distinct vector reaches the banding
    kernel (so no O(m·d) single-bucket carry), and the n(n-1)/2 answer
    comes from the distributed within-group self-join."""
    n, d = 5_000, 32
    v = np.linspace(0.1, 1.0, d).tolist()
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n), "embedding": [v] * n}),
        schema="vec_id long, embedding array<double>",
    )
    out = embedding_near_dup_pairs(df, threshold=0.9, dim=d)
    # both numbers from ONE pass over the 12.5M-pair frame
    row = out.selectExpr("count(*) AS n", "count_if(cosine < 0.9999) AS bad").first()
    assert row["n"] == n * (n - 1) // 2
    assert row["bad"] == 0


def test_embedding_mixed_identical_and_near(spark):
    """Identical-vector groups AND cross-group near-dups in one corpus:
    the union of the within-group self-join and the kernel's
    representative pairs (expanded group x group) must equal brute force,
    each pair exactly once."""
    rng = np.random.default_rng(41)
    d, thr, seed, n_planes = 24, 0.9, 7, 16
    base = rng.standard_normal((150, d))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # 3 exact copies of each vector + a near-dup partner for every 5th
    # 0.02-scale noise → cosine ~0.995, ~5.6 deg: per-plane disagree prob
    # ~0.03, so P[all 4 bands miss] ~2e-4 per pair — recall 1.0 expected
    near = base[::5] + 0.02 * rng.standard_normal((len(base[::5]), d))
    allV = np.concatenate([base, base, base, near])
    ids = np.arange(len(allV))

    Vn = allV / np.linalg.norm(allV, axis=1, keepdims=True)
    G = Vn @ Vn.T
    ii, jj = np.nonzero(np.triu(G >= thr, 1))
    expected = set(zip(ii.tolist(), jj.tolist()))
    assert len(expected) > 3 * len(base)  # copies + planted partners

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": [v.tolist() for v in allV]}),
        schema="vec_id long, embedding array<double>",
    )
    rows = embedding_near_dup_pairs(
        df, threshold=thr, n_planes=n_planes, seed=seed, dim=d
    ).collect()
    got = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(got) == len(set(got))  # exactly-once per pair
    # LSH recall over planted structure: identical copies always collide;
    # all expected pairs here share >= 13/16 plane signs by construction,
    # so the pigeonhole bands catch them — exact equality expected
    assert set(got) == expected
