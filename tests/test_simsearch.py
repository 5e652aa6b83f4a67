"""Similarity search: brute-force exactness, LSH recall, near-dup pairs."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cie_spark.operators import simsearch

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def _numpy_topk(emb_pdf, qvec, k):
    mat = np.array(list(emb_pdf["embedding"]), dtype=np.float64)
    q = np.array(qvec, dtype=np.float64)
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(
        zip(emb_pdf["vec_id"], sims), key=lambda t: (-t[1], t[0])
    )[:k]
    return [int(v) for v, _ in order]


def test_bruteforce_matches_numpy(spark, emb):
    qvec = list(emb.filter("vec_id = 0").first()["embedding"])
    got = [r.vec_id for r in simsearch.topk_bruteforce(emb, qvec, k=10).collect()]
    expect = _numpy_topk(emb.toPandas(), qvec, 10)
    assert got == expect
    assert got[0] == 0  # self is most similar


def test_lsh_results_subset_of_bruteforce_space(spark, emb):
    qvec = list(emb.filter("vec_id = 0").first()["embedding"])
    exact = [r.vec_id for r in simsearch.topk_bruteforce(emb, qvec, k=50).collect()]
    approx = simsearch.topk_lsh(emb, qvec, k=10, probe_hamming=2).collect()
    assert len(approx) >= 1
    assert approx[0].vec_id == 0  # query vector always lands in its own bucket
    # recall sanity: every LSH hit is a genuinely similar vector
    ids = [r.vec_id for r in approx]
    assert ids[0] == exact[0]


def test_near_dup_pairs_threshold(spark):
    """Every pair clears the threshold, is ordered and carries its exact
    cosine. Planted pairs (cosine ~0.96) make the result non-empty: the
    sf0.001 embeddings have no pair at 0.5."""
    rng = np.random.default_rng(5)
    M = rng.standard_normal((100, 64))
    M[1::2] = M[0::2] + 0.3 * rng.standard_normal((50, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(M)],
        "vec_id long, embedding array<float>",
    )
    pairs = simsearch.cosine_near_dup_pairs(df, threshold=0.5).collect()
    assert pairs
    U = M / np.linalg.norm(M, axis=1, keepdims=True)
    for r in pairs:
        assert r.sim >= 0.5
        assert r.id_a < r.id_b
        assert abs(float(U[r.id_a] @ U[r.id_b]) - r.sim) < 1e-4


def test_verify_bucket_sim_does_not_depend_on_bucket_size():
    """A pair met in buckets of different sizes carries one sim, bit for
    bit, so the distributed tier's dedup on (id_a, id_b, sim) keeps it
    once: the kernel's Gram matrix only preselects, and each kept pair's
    sim is its own row-wise dot product."""
    rng = np.random.default_rng(11)
    M = rng.standard_normal((97, 64))
    M[1] = M[0] + 0.05 * rng.standard_normal(64)
    ids = np.arange(97)
    ref = None
    for m in (2, 3, 17, 64, 97):
        a, b, sim = simsearch._verify_bucket(ids[:m], M[:m], 0.9)
        got = {(int(x), int(y)): s for x, y, s in zip(a, b, sim)}
        assert (0, 1) in got, m
        if ref is None:
            ref = got[(0, 1)]
            exact = M[0] @ M[1] / np.linalg.norm(M[0]) / np.linalg.norm(M[1])
            assert abs(ref - exact) < 1e-12
        assert got[(0, 1)] == ref, m


def test_ivf_topk(spark, emb):
    """IVF probe path: exact sims on the probed cells only; the query's own
    vector shares its cell by construction, so it always ranks first; probing
    ALL cells reproduces brute force exactly."""
    qvec = list(emb.filter("vec_id = 0").first()["embedding"])
    got = simsearch.topk_ivf(emb, qvec, k=10, n_centroids=8, n_probe=2).collect()
    assert got and got[0].vec_id == 0
    exact = {r.vec_id: r.sim for r in simsearch.topk_bruteforce(emb, qvec, k=1000).collect()}
    for r in got:  # precision 1.0: every returned sim is the true sim
        assert abs(exact[r.vec_id] - r.sim) < 1e-6
    full_probe = [
        r.vec_id
        for r in simsearch.topk_ivf(
            emb, qvec, k=10, n_centroids=8, n_probe=8
        ).collect()
    ]
    brute = [r.vec_id for r in simsearch.topk_bruteforce(emb, qvec, k=10).collect()]
    assert full_probe == brute


def test_near_dup_banded_recall_on_planted_pairs(spark, monkeypatch):
    """Plant known near-duplicate vectors (tiny perturbations of shared
    bases) among random noise: the banded candidate join must recover >= 90%
    of the exact-oracle pairs at threshold 0.9 — the recall guarantee the
    exact-signature-equality formulation could not give."""
    rng = np.random.default_rng(7)
    dim = 32
    rows = []
    vid = 0
    # 20 clusters of 3 near-identical vectors -> 60 planted pairs
    for _ in range(20):
        base = rng.standard_normal(dim)
        for _ in range(3):
            v = base + 0.03 * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    # 200 unrelated noise vectors
    for _ in range(200):
        rows.append((vid, [float(x) for x in rng.standard_normal(dim)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    exact = {
        (r.id_a, r.id_b)
        for r in simsearch.cosine_near_dup_exact(df, threshold=0.9).collect()
    }
    assert len(exact) >= 50  # the planted pairs are really there
    monkeypatch.setattr(simsearch, "LOCAL_MAX_VECTORS", 0)  # DISTRIBUTED tier
    banded = {
        (r.id_a, r.id_b)
        for r in simsearch.cosine_near_dup_pairs(df, threshold=0.9).collect()
    }
    assert banded <= exact  # exact verify => precision 1.0
    recall = len(banded & exact) / len(exact)
    assert recall >= 0.9, f"banded recall {recall:.2f} < 0.9"


def test_near_dup_local_tier_agrees_with_distributed(spark, monkeypatch):
    """The driver-local small-input tier (default below LOCAL_MAX_VECTORS)
    must return the identical pair set AND identical rounded sims as the
    distributed banded plan — planted near-dups, noise, a zero vector and
    a hot exact-dup cluster all included. Any divergence in the signature
    matmul, band split, bucket cap, id ordering or rounding shows here."""
    rng = np.random.default_rng(11)
    dim = 24
    rows = []
    vid = 0
    for _ in range(12):  # planted near-dup clusters
        base = rng.standard_normal(dim)
        for _ in range(3):
            v = base + 0.02 * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(120):  # noise
        rows.append((vid, [float(x) for x in rng.standard_normal(dim)]))
        vid += 1
    rows.append((vid, [0.0] * dim))  # zero vector -> sim defined as 0.0
    vid += 1
    # a NULL id riding a planted base: it must pair with NOTHING in both
    # tiers (the distributed x.id < y.id is never true against NULL) while
    # still occupying its band buckets
    rows.append((None, [float(x) for x in rows[0][1]]))
    hot = [float(x) for x in rng.standard_normal(dim)]
    for _ in range(20):  # exact-dup cluster LARGER than max_bucket: its
        rows.append((vid, list(hot)))  # band buckets (>= 20 members) must be
        vid += 1  # dropped by BOTH tiers — exercises the over-cap drop path
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    hot_start = vid - 20
    kw = dict(threshold=0.9, n_planes=64, bands=8, seed=42, max_bucket=16)
    local = sorted(
        (r.id_a, r.id_b, r.sim)
        for r in simsearch.cosine_near_dup_pairs(df, **kw).collect()
    )
    monkeypatch.setattr(simsearch, "LOCAL_MAX_VECTORS", 0)
    dist = sorted(
        (r.id_a, r.id_b, r.sim)
        for r in simsearch.cosine_near_dup_pairs(df, **kw).collect()
    )
    assert local, "agreement test must compare non-empty results"
    # the over-cap drop really engaged: the 20-member exact-dup cluster's
    # buckets exceed max_bucket in every band, so neither tier pairs them
    assert not any(a >= hot_start and b >= hot_start for a, b, _ in local)
    assert local == dist


def test_hyperplane_sig_auto_matches_explicit_planes(spark):
    """_hyperplane_sig_auto regenerates make_planes(dim, n, seed) inside the
    UDF — must be bit-identical to the explicit-planes signature (the
    emb_near_dup oracle inlines those same planes as SQL literals)."""
    import numpy as np

    rng = np.random.default_rng(123)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {
        r.vec_id: r.s
        for r in df.select(
            "vec_id",
            simsearch._hyperplane_sig_auto(F.col("embedding"), 12, 42).alias("s"),
        ).collect()
    }
    # reference: explicit planes, plain numpy sign bits packed LSB-first
    P = np.asarray(simsearch.make_planes(16, 12, 42), dtype=np.float64)
    b = {}
    for vid, v in rows:
        bits = np.asarray(v, dtype=np.float32).astype(np.float64) @ P.T >= 0
        b[vid] = sum(1 << i for i in range(12) if bits[i])
    assert a == b


def test_cosine_near_dup_pairs_no_dimension_probe_job(spark, monkeypatch):
    """The signature planes derive from (seed, dim) inside the UDF, so
    neither tier needs a `.first()` job to learn the vector dimension: the
    distributed tier runs no probe at all, and the driver tier's only probe
    is its ids-first size check. Bit-identity of the auto-derived planes is
    pinned separately above; here we pin that the distributed tier still
    returns the exact verified pairs."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = [float(x) for x in rng.standard_normal(8)]
    near = list(base)
    near[0] += 0.01
    rows = [(0, base), (1, near)] + [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(2, 22)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(simsearch, "LOCAL_MAX_VECTORS", 0)  # DISTRIBUTED tier
    got = {(r.id_a, r.id_b) for r in
           simsearch.cosine_near_dup_pairs(df, threshold=0.99).collect()}
    assert (0, 1) in got


def _planted(rng, dim=16, clusters=8, noise=60):
    rows = []
    for c in range(clusters):
        base = rng.standard_normal(dim)
        for j in range(3):
            v = base + 0.02 * rng.standard_normal(dim)
            rows.append((10 * c + j, [float(x) for x in v]))
    for i in range(noise):
        rows.append((1000 + i, [float(x) for x in rng.standard_normal(dim)]))
    return rows


def _assert_distributed_equals_exact(df, threshold=0.9):
    """The default call on irregular input runs the distributed tier, and
    its output equals the exact twin's as a set (the twin repeats a pair
    once per row pair of a duplicated id)."""
    got = simsearch.cosine_near_dup_pairs(df, threshold=threshold)
    assert "MapInArrow" in got._jdf.queryExecution().executedPlan().toString()
    got = sorted((r.id_a, r.id_b, r.sim) for r in got.collect())
    ref = sorted({
        (r.id_a, r.id_b, r.sim)
        for r in simsearch.cosine_near_dup_exact(df, threshold=threshold).collect()
    })
    assert ref, "agreement test must compare non-empty results"
    assert got == ref


def test_near_dup_duplicate_ids_run_the_distributed_tier(spark):
    """A second row for id 0 (a near-dup of id 1) and a NULL id: id 0's
    two vectors are each scored, equal ids never pair, and the NULL id
    pairs with nothing."""
    rows = _planted(np.random.default_rng(3))
    rows.append((0, [float(x) for x in rows[1][1]]))  # second row for id 0
    rows.append((None, [float(x) for x in rows[2][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    _assert_distributed_equals_exact(df)


def test_near_dup_ragged_vector_runs_the_distributed_tier(spark):
    """One vector of a different length (it signs against the planes of its
    own length) and a NULL vector (it signs NULL): only members of equal
    length are scored, and the NULL vector scores 0.0, below threshold."""
    rows = _planted(np.random.default_rng(4))
    rows.append((999, [1.0, 2.0, 3.0]))
    rows.append((998, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    _assert_distributed_equals_exact(df)


def test_near_dup_oracle_operating_point_on_distributed_tier(spark, monkeypatch):
    """The emb_near_dup oracle's operating point (threshold 0.5, 8 bands of
    2 bits) returns the exact pair set on the distributed tier too; the
    oracle gate itself only reaches the driver tier at the local scale
    factors. sf0.001 has no pair at 0.5, so sf0.01 (one pair) is checked
    as well."""
    monkeypatch.setattr(simsearch, "LOCAL_MAX_VECTORS", 0)
    seen = 0
    for sf in (SF, os.path.join(os.path.dirname(SF), "sf0.01")):
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        got = simsearch.cosine_near_dup_pairs(
            emb, threshold=0.5, n_planes=16, bands=8
        )
        assert "MapInArrow" in got._jdf.queryExecution().executedPlan().toString()
        got = sorted((r.id_a, r.id_b, r.sim) for r in got.collect())
        ref = sorted(
            (r.id_a, r.id_b, r.sim)
            for r in simsearch.cosine_near_dup_exact(emb, threshold=0.5).collect()
        )
        assert got == ref, sf
        seen += len(ref)
    assert seen, "oracle-point test must compare non-empty results"
