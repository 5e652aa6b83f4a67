"""Similarity search over embedding columns (array<float>).

Analog of the reference's semantic search (tools/semantic.go:68-665: HNSW
kNN + over-fetch + post-filter). Spark has no built-in ANN, so per SURVEY
§2 Q16 we provide:

- brute-force exact top-k: JVM-side dot product via zip_with/aggregate —
  the correctness baseline, fine up to ~10^6 vectors per query batch;
- LSH-bucketed approximate search: random-hyperplane signatures (built-in
  expressions) -> candidate bucket join -> exact re-score (the over-fetch +
  verify shape of the reference), sub-linear candidate generation at scale;
- cosine near-dup pairs for embedding-based dedup: banded signatures
  (candidate generation), then one numpy kernel re-scores each bucket's
  own vectors exactly — on the driver for small regular inputs, per bucket
  in one mapInArrow otherwise.

All math is promoted to double so results are stable across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cie_spark.operators.dedup import _band_buckets, _split_bands
from cie_spark.session import bounded_rows, local_frame


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def cosine_sim(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def topk_bruteforce(
    vectors: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine vs a literal query vector. Deterministic order:
    (similarity DESC, id ASC)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_sim(F.col(vec_col), q)
    return (
        vectors.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("sim", 4).alias("sim"))
    )


def make_planes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (numpy, fixed seed)."""

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _signatures(M: np.ndarray, n_planes: int, seed: int) -> np.ndarray:
    """Sign-bit signatures of a batch of equal-length vectors: bit i =
    (row . plane_i) >= 0 against make_planes(dim, n_planes, seed), packed
    into int64. THE single definition of the signature bit layout — the
    signature UDF and the driver near-dup tier both call this, so their
    bit-identity holds by construction. M: batch × dim float64."""
    P = np.asarray(make_planes(M.shape[1], n_planes, seed), dtype=np.float64)
    bits = (M @ P.T >= 0).astype(np.uint64)  # batch × planes
    out = np.zeros(M.shape[0], dtype=np.uint64)
    for i in range(n_planes):
        out |= bits[:, i] << np.uint64(i)
    return out.view(np.int64)


def _hyperplane_sig_auto(vec: Column, n_planes: int, seed: int) -> Column:
    """Sign-bit signature: bit i = (vec . plane_i) >= 0 against
    make_planes(len(vec), n_planes, seed), the planes derived INSIDE the UDF
    (pinned against explicit planes by tests/test_simsearch.py) — no
    driver-side `.first()` job to learn the dimension, and plane
    regeneration per batch is a few µs of seeded RNG. One Arrow-batched
    matmul per batch (an all-expression formulation with n_planes × dim
    literals compiled pathologically — ~30 s of codegen for 12 planes × 64
    dims). A batch holding ragged or NULL vectors signs row by row, each
    against the planes of its own length; a NULL vector signs NULL."""

    @F.pandas_udf(T.LongType())
    def sig(vecs: pd.Series) -> pd.Series:
        try:
            M = np.array(list(vecs), dtype=np.float64)
        except ValueError:  # ragged vectors, or NULL among vectors
            M = None
        if M is not None and M.ndim == 2:
            return pd.Series(_signatures(M, n_planes, seed))
        return pd.Series(
            [
                None if v is None else int(_signatures(
                    np.asarray(v, dtype=np.float64)[None, :], n_planes, seed
                )[0])
                for v in vecs
            ],
            dtype=object,
        )

    return sig(vec)


def topk_lsh(
    vectors: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 12, probe_hamming: int = 1, seed: int = 42,
) -> DataFrame:
    """Approximate top-k: only vectors whose hyperplane signature is within
    `probe_hamming` bits of the query signature are scored (multi-probe
    LSH). Recall < 1.0 by design; the scale path when brute force is too
    expensive. Candidate filter is an integer hamming test — no shuffle."""
    dim = len(query_vec)
    planes = make_planes(dim, n_planes, seed)

    qsig = 0
    for i, p in enumerate(planes):
        if float(np.dot(query_vec, p)) >= 0:
            qsig |= 1 << i
    sig = _hyperplane_sig_auto(F.col(vec_col), n_planes, seed)
    cand = vectors.withColumn("sig", sig).filter(
        F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= probe_hamming
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        cand.select(F.col(id_col), cosine_sim(F.col(vec_col), q).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("sim", 4).alias("sim"))
    )


def _cell_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id per vector — one Arrow-batched argmax per batch."""
    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        M = np.array(list(vecs), dtype=np.float64)
        if M.size == 0:
            return pd.Series(np.zeros(0, dtype=np.int32))
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series((M @ C.T).argmax(axis=1).astype(np.int32))

    return assign(vec)


def make_centroids(dim: int, n_centroids: int = 16, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-centroids (seeded gaussian). Dataset-independent
    — avoids a k-means training pass; on a real deployment you'd train the
    coarse quantizer on a sample and broadcast it, the query shape is
    identical."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_centroids, dim)).tolist()


def topk_ivf(
    vectors: DataFrame, query_vec: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_centroids: int = 16, n_probe: int = 4, seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: assign every vector to its nearest coarse
    centroid (map-side vectorized argmax — no shuffle), probe only the
    n_probe centroids nearest the query, exact-rescore the probed cells.

    The scale path when one LSH signature is too coarse: candidate count is
    ~ n_probe/n_centroids of the corpus, tunable independently of dim. At
    deployment the cell id doubles as the table's partition key so a probe
    is a partition-pruned scan.
    """
    dim = len(query_vec)
    cents = make_centroids(dim, n_centroids, seed)
    C = np.asarray(cents, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(float(np.linalg.norm(q)), 1e-12)
    # deterministic probe order: score DESC, centroid id ASC on ties — the
    # same tie-break an ORDER BY ... DESC, cid ASC oracle rendering uses
    dots = C @ q
    probe = sorted(range(len(cents)), key=lambda i: (-dots[i], i))[:n_probe]
    cand = vectors.withColumn("_cell", _cell_assign(F.col(vec_col), cents)).filter(
        F.col("_cell").isin(probe)
    )
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        cand.select(F.col(id_col), cosine_sim(F.col(vec_col), qlit).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("sim", 4).alias("sim"))
    )


# Tiers of cosine_near_dup_pairs. Both build candidates with the banded
# core and verify with ONE numpy kernel (_verify_bucket), run per bucket
# over that bucket's own member ids and vector rows:
#
# - driver (<= LOCAL_MAX_VECTORS rows of regular input: unique non-null
#   ids, one vector length, no NULL vector): one ids-only probe, one
#   bounded toArrow() fetch, then signatures, buckets and the kernel all run
#   in numpy on the driver, returning a local_frame LocalRelation. At this
#   size the distributed plan is ~6 stages of scheduling for ~1 ms of math
#   (measured 3.3 s for 2,000 vectors at sf0.1). 8,192 rows × dim <= ~1.5k
#   is <= ~100 MB of Arrow — driver-bounded.
# - distributed (everything else): bucket members are (id, vector)
#   structs, and one mapInArrow runs the kernel per bucket, so candidates
#   cross the Python boundary as bucket arrays, never as pairs, and no
#   vector is looked up or joined back. Irregular input verifies as
#   `cosine_sim` scores it: NULL ids never pair, a NULL or zero vector
#   scores 0.0, and a ragged pair of nonzero vectors has no cosine.
#
# Tier agreement is pinned by
# tests/test_simsearch.py::test_near_dup_local_tier_agrees_with_distributed;
# tests force the distributed tier with LOCAL_MAX_VECTORS = 0.
LOCAL_MAX_VECTORS = 8_192


def _matrix(vecs):
    """(float64 rows, lengths) of an Arrow list array of vectors. Rows of
    one length come back as they are, with lengths None; otherwise every
    row is zero-padded to the longest (a NULL vector is all zeros) and the
    lengths (NULL -> 0) come back too — the padding changes no dot product
    and no norm."""
    n = len(vecs)
    lens = pc.list_value_length(vecs).fill_null(0).to_numpy(zero_copy_only=False)
    flat = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    width = int(lens.max()) if n else 0
    if not vecs.null_count and (lens == width).all():
        return flat.reshape(n, width), None
    M = np.zeros((n, width))
    M[np.repeat(np.arange(n), lens),
      np.arange(len(flat)) - np.repeat(np.cumsum(lens) - lens, lens)] = flat
    return M, lens


def _fetch_matrix(vectors: DataFrame, id_col: str, vec_col: str, cap: int):
    """ONE bounded Arrow fetch of the (id, vector) rows -> (ids, rank, M):
    the ids as a numpy array, rank[i] the place of row i in id order (-1 for
    a NULL id, which never pairs), and the vectors as float64 rows.
    toArrow() is ~3x faster than the row-path collect for a 10 MB matrix
    and type-exact (ids stay exact with NULLs as None, none of toPandas'
    nullable-int degradation). None when the input holds more than `cap`
    rows (it may be nondeterministic, or have grown since the probe) or is
    irregular: duplicate non-null ids, ragged or NULL vectors."""
    tbl = vectors.select(id_col, vec_col).limit(cap + 1).toArrow()
    if tbl.num_rows > cap:
        return None
    M, lens = _matrix(tbl.column(1).combine_chunks())
    ids = tbl.column(0).to_pylist()
    nn = [i for i in ids if i is not None]
    if lens is not None or len(set(nn)) != len(nn):
        return None
    karr = np.asarray(nn)
    if karr.dtype.kind not in "iuf":
        karr = np.asarray(nn, dtype=object)
    rows = np.flatnonzero([i is not None for i in ids])
    rank = np.full(len(ids), -1, dtype=np.int64)
    rank[rows[np.argsort(karr, kind="stable")]] = np.arange(len(nn))
    idarr = np.empty(len(ids), dtype=karr.dtype)
    idarr[rows] = karr
    return idarr, rank, M


def _verify_bucket(ids, M, threshold: float, lens=None):
    """THE near-dup verify kernel of both tiers: one bucket's value-sorted
    member ids and their float64 vector rows -> (id_a, id_b, sim) arrays of
    the i<j pairs with id_a < id_b (equal ids never pair) and exact cosine
    >= threshold. The cosine is `cosine_sim`'s: a zero row scores 0.0
    against anything, and with `lens` given (rows zero-padded by _matrix)
    a pair of nonzero rows of different lengths has none and drops out.
    The only divergence from the JVM cosine is float summation order —
    invisible at 4 rounded decimals away from ties.

    The bucket's m×m cosine matrix (one Gram product, O(m²) memory
    whatever the dimension) only preselects pairs, with a 1e-9 slack for
    its summation order. Each preselected pair's sim is then its own
    row-wise dot product, gathered in chunks of ~1M floats, so a pair met
    in buckets of different sizes carries one value whatever BLAS does
    (gathering both rows of every pair at once was O(pairs × dim): 1.5 GB
    for a 512-member bucket at dim 768)."""
    norms = np.sqrt(np.einsum("ij,ij->i", M, M))
    nz = norms > 0
    safe = np.where(nz, norms, 1.0)
    pre = np.triu((M @ M.T) / np.outer(safe, safe) >= threshold - 1e-9, 1)
    pre &= ids[:, None] < ids[None, :]
    if lens is not None:
        pre &= ~(nz[:, None] & nz[None, :]) | (lens[:, None] == lens[None, :])
    iu, ju = np.nonzero(pre)
    sim = np.empty(len(iu))
    step = max(1, (1 << 20) // max(1, M.shape[1]))
    for s in range(0, len(iu), step):
        a, b = iu[s : s + step], ju[s : s + step]
        ok = nz[a] & nz[b]
        dots = np.einsum("ij,ij->i", M[a], M[b])
        sim[s : s + step] = np.where(
            ok, dots / np.where(ok, norms[a] * norms[b], 1.0), 0.0
        )
    keep = sim >= threshold
    return ids[iu[keep]], ids[ju[keep]], sim[keep]


def _local_buckets(sig: np.ndarray, rank: np.ndarray, bands: int, bits: int,
                   max_bucket: int):
    """numpy rendering of dedup._band_buckets + _split_bands over the
    fetched rows: yields every kept bucket of two or more members as its
    row indices in id order. Band split is arithmetic shift + mask (numpy
    int64 >> == JVM shiftright); the cap counts NULL-id rows, which never
    become members."""
    mask = np.int64((1 << bits) - 1)
    for b in range(bands):
        vals = (sig >> np.int64(bits * b)) & mask
        _, inv, cnt = np.unique(vals, return_inverse=True, return_counts=True)
        rows = np.flatnonzero((rank >= 0) & (cnt[inv] <= max_bucket))
        rows = rows[np.lexsort((rank[rows], inv[rows]))]
        for grp in np.split(rows, np.flatnonzero(np.diff(inv[rows])) + 1):
            if len(grp) > 1:
                yield grp


def _verify_batches(threshold: float):
    """mapInArrow body of the distributed tier: each row of a batch is one
    bucket's value-sorted (id, vector) members; the batch's members are
    converted once and the kernel runs per bucket on its slice."""

    def gen(batches):
        for rb in batches:
            ms = rb.column(0)
            sizes = pc.list_value_length(ms).to_numpy(zero_copy_only=False)
            ends = np.cumsum(sizes)
            id_arr, vecs = ms.flatten().flatten()
            ids = id_arr.to_numpy(zero_copy_only=False)
            M, lens = _matrix(vecs)
            outs = [
                _verify_bucket(
                    ids[s:e], M[s:e], threshold, None if lens is None else lens[s:e]
                )
                for s, e in zip(ends - sizes, ends)
                if e - s > 1
            ]
            if outs:
                a, b, sim = (np.concatenate(x) for x in zip(*outs))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(a, id_arr.type), pa.array(b, id_arr.type),
                     pa.array(sim, pa.float64())],
                    names=["id_a", "id_b", "sim"],
                )

    return gen


def cosine_near_dup_pairs(
    vectors: DataFrame, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 64, bands: int = 8, seed: int = 42,
    max_bucket: int = 512,
) -> DataFrame:
    """Embedding near-dup pairs (a<b, cosine >= threshold) via BANDED
    hyperplane-signature blocking + exact verify — never an all-pairs cross
    join, and never exact-full-signature equality (which has near-zero
    recall at practical thresholds).

    Banding selectivity (round-5 retune): the old 4 bands x 4 bits
    collided UNRELATED vectors at 1-(1-2^-4)^4 ~ 23% — on the sf0.1 bench
    that meant ~470k candidate pairs from 2,000 random vectors for an
    output of ~1 row. 8 bands x 8 bits (one 64-bit signature, same LongType
    column) collides random pairs at 1-(1-2^-8)^8 ~ 3.1% while keeping the
    true-pair recall bound 1-(1-(1-acos(s)/pi)^8)^8: ~0.93 at s = 0.9,
    ~0.99 at s >= 0.95 — pinned empirically by the planted-pair recall
    pytest. Callers needing a different operating point (e.g. the
    exact-twin-checkable driver query at threshold 0.5) pass
    n_planes/bands explicitly.

    Candidates = pairs sharing >= 1 band bucket (the banded core shared
    with dedup.simhash_pairs); buckets larger than `max_bucket` are dropped
    (hot-bucket quadratic guard — recall trade documented). Verification
    is the exact cosine of each bucket's own member vectors, so precision
    is 1.0 by construction; a pair found in several bands carries the same
    sim in each. The driver or the distributed tier runs the verify, as
    described above LOCAL_MAX_VECTORS.
    """
    id_type = vectors.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    bits = n_planes // bands
    # ids-first size probe (a column-pruned bounded fetch, one job): an
    # over-cap input never moves vector bytes to the driver
    fetched = None
    cap = LOCAL_MAX_VECTORS
    if cap and bounded_rows(vectors.select(id_col), cap) is not None:
        fetched = _fetch_matrix(vectors, id_col, vec_col, cap)

    if fetched is not None:
        ids, rank, M = fetched
        sig = _signatures(M, n_planes, seed)
        pairs = {}
        for rows in _local_buckets(sig, rank, bands, bits, max_bucket):
            a, b, sim = _verify_bucket(ids[rows], M[rows], threshold)
            pairs.update(zip(zip(a.tolist(), b.tolist()), sim.tolist()))
        return local_frame(
            vectors.sparkSession,
            [(a, b, s) for (a, b), s in pairs.items()], out_schema,
        ).select("id_a", "id_b", F.round("sim", 4).alias("sim"))

    sig = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        _hyperplane_sig_auto(F.col(vec_col), n_planes, seed).alias("sig"),
    )
    member = F.when(
        F.col(id_col).isNotNull(),
        F.struct(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
    )
    buckets = _band_buckets(
        sig, member, _split_bands(F.col("sig"), bands, bits), max_bucket
    )
    # duplicate ids aside, every band finds a pair with the same sim, so the
    # dedup after the threshold runs on the (tiny) surviving pairs
    return (
        buckets.select("_ms")
        .mapInArrow(_verify_batches(threshold), out_schema)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
        .dropDuplicates()
    )


def cosine_near_dup_exact(
    vectors: DataFrame, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """EXACT embedding near-dup pairs (a<b, cosine >= threshold): all-pairs
    self-join. Quadratic — the correctness baseline / oracle twin; use
    `cosine_near_dup_pairs` (signature-bucketed) at scale."""
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine_sim(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )
