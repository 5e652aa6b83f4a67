"""Similarity search over embedding columns (array<float>).

Analog of the reference's semantic search (tools/semantic.go:68-665: HNSW
kNN + over-fetch + post-filter). Spark has no built-in ANN, so per SURVEY
§2 Q16 we provide:

- brute-force exact top-k: JVM-side dot product via zip_with/aggregate —
  the correctness baseline, fine up to ~10^6 vectors per query batch;
- LSH-bucketed approximate search: random-hyperplane signatures (built-in
  expressions) -> candidate bucket join -> exact re-score (the over-fetch +
  verify shape of the reference), sub-linear candidate generation at scale;
- cosine near-dup pairs for embedding-based dedup.

All math is promoted to double so results are stable across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cie_spark.operators.dedup import _band_buckets, _pair_expand, _split_bands
from cie_spark.session import local_frame


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


# Size tiers of cosine_near_dup_pairs. All three build candidates with the
# banded core (dedup._band_buckets); the two smaller ones verify with ONE
# numpy kernel (_verify_buckets) over a matrix fetched once via toArrow():
#
# - driver (<= LOCAL_MAX_VECTORS rows): signatures, buckets and verify all
#   run in numpy on the driver, returning a local_frame LocalRelation. At
#   this size the distributed plan is ~6 stages of scheduling for ~1 ms of
#   math (measured 3.3 s for 2,000 vectors at sf0.1). 8,192 rows × dim
#   <= ~1.5k is <= ~100 MB of Arrow — driver-bounded.
# - broadcast (matrix <= BROADCAST_MAX_BYTES as float64, <=
#   BROADCAST_MAX_ROWS rows): buckets are built distributed and fed whole
#   to the kernel over the broadcast matrix in mapInPandas, so candidate
#   pairs cross the Python boundary as bucket arrays, never as two vectors.
#   At sf1.0 (20k × 64 dims, 7.5M candidate pairs) this replaced ~18 s of
#   candidate-dedup shuffle and join-backs with a ~1 s matmul verify. 64 MB
#   at dim 64 caps it at ~131k vectors (~75 MB per Python worker).
# - join-back (larger inputs, duplicate non-null ids, ragged or NULL
#   vectors): candidate id pairs are deduplicated, the vectors joined back
#   and the cosine computed in the JVM — the 100-TB shape.
#
# Tier agreement is pinned by
# tests/test_simsearch.py::test_near_dup_local_tier_agrees_with_distributed;
# tests pin a tier by monkeypatching these constants.
LOCAL_MAX_VECTORS = 8_192
BROADCAST_MAX_BYTES = 64 * 1024 * 1024
BROADCAST_MAX_ROWS = 1 << 19


def _fetch_matrix(vectors: DataFrame, id_col: str, vec_col: str, cap: int):
    """ONE bounded Arrow fetch of the (id, vector) rows -> (key, M, norms),
    where key = (sorted non-null ids, their rows in M). toArrow() is ~3x
    faster than the row-path collect for a 10 MB matrix and type-exact (ids
    stay exact with NULLs as None, none of toPandas' nullable-int
    degradation). None when the input holds more than `cap` rows (it may be
    nondeterministic, or have grown since the probe) or is irregular:
    duplicate non-null ids, ragged or NULL vectors."""
    import pyarrow.compute as pc

    tbl = vectors.select(id_col, vec_col).limit(cap + 1).toArrow()
    vec = tbl.column(1).combine_chunks()
    if tbl.num_rows > cap or vec.null_count:
        return None
    lens = pc.list_value_length(vec).to_numpy(zero_copy_only=False)
    dim = int(lens[0]) if len(lens) else 0
    ids = tbl.column(0).to_pylist()
    nn = [i for i in ids if i is not None]
    if len(set(nn)) != len(nn) or (lens != dim).any():
        return None
    M = (
        vec.flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.float64)
        .reshape(len(ids), dim)
    )
    karr = np.asarray(nn)
    if karr.dtype.kind not in "iuf":
        karr = np.asarray(nn, dtype=object)
    rows = np.flatnonzero([i is not None for i in ids])
    order = np.argsort(karr, kind="stable")
    norms = np.sqrt(np.einsum("ij,ij->i", M, M))
    return (karr[order], rows[order]), M, norms


def _verify_buckets(buckets, key, M, norms, threshold: float):
    """THE near-dup verify kernel of the driver and broadcast tiers.
    `buckets` yields value-sorted arrays of unique non-null member ids, so
    triu's i<j pairs are exactly the id_a < id_b pairs the JVM two-step
    explode generates; pair expansion and the exact cosine both run in
    numpy. The only divergence from the JVM verify is float summation order
    — invisible at 4 rounded decimals away from ties. Returns the pairs
    with sim >= threshold as a pandas frame, or None. Raises on a member id
    the fetch did not see (an input that changed between the fetch and the
    candidate job) instead of verifying against the wrong row."""
    skey, srow = key
    outs = []
    for members in buckets:
        m = len(members)
        if m < 2:
            continue
        arr = np.asarray(members, dtype=skey.dtype)
        pos = np.searchsorted(skey, arr)
        if (pos >= len(skey)).any() or (skey[pos] != arr).any():
            raise ValueError(
                "cosine_near_dup_pairs: a candidate id is missing from the "
                "fetched vectors (did the input change between jobs?)"
            )
        rows = srow[pos]
        iu, ju = np.triu_indices(m, k=1)
        ra, rb = rows[iu], rows[ju]
        dots = np.einsum("ij,ij->i", M[ra], M[rb])
        na, nb = norms[ra], norms[rb]
        ok = (na > 0) & (nb > 0)
        sim = np.where(ok, dots / np.where(ok, na * nb, 1.0), 0.0)
        keep = sim >= threshold
        if keep.any():
            outs.append(
                pd.DataFrame(
                    {"id_a": arr[iu[keep]], "id_b": arr[ju[keep]], "sim": sim[keep]}
                )
            )
    return pd.concat(outs, ignore_index=True) if outs else None


def _local_buckets(sig: np.ndarray, key, bands: int, bits: int, max_bucket: int):
    """numpy rendering of dedup._band_buckets + _split_bands over the
    fetched rows: yields every kept bucket's value-sorted member ids. Band
    split is arithmetic shift + mask (numpy int64 >> == JVM shiftright);
    the cap counts NULL-id rows, which never become members."""
    skey, srow = key
    rank = np.full(len(sig), -1, dtype=np.int64)
    rank[srow] = np.arange(len(srow))
    mask = np.int64((1 << bits) - 1)
    for b in range(bands):
        vals = (sig >> np.int64(bits * b)) & mask
        _, inv, cnt = np.unique(vals, return_inverse=True, return_counts=True)
        rows = np.flatnonzero((rank >= 0) & (cnt[inv] <= max_bucket))
        rows = rows[np.lexsort((rank[rows], inv[rows]))]
        for grp in np.split(rows, np.flatnonzero(np.diff(inv[rows])) + 1):
            yield skey[rank[grp]]


def _bc_verify_gen(bc, threshold: float):
    """mapInPandas generator: the verify kernel over each batch of bucket
    member arrays against the broadcast (key, M, norms), so Arrow moves one
    row per bucket (~1 MB at sf1.0) instead of one per candidate pair
    (7.5M rows / ~120 MB)."""

    def gen(batches):
        key, M, norms = bc.value
        for pdf in batches:
            out = _verify_buckets(pdf["_ms"], key, M, norms, threshold)
            if out is not None:
                yield out

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
    is the exact cosine, so precision is 1.0 by construction. The size
    tier is chosen as described above LOCAL_MAX_VECTORS.
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
    # Size probes, bounded and ids-first (column-pruned CollectLimits): the
    # first vector's dim sizes the broadcast cap, then ONE ids probe at the
    # larger cap decides whether the vectors are fetched at all, so an
    # over-cap input never moves vector bytes to the driver.
    first = vectors.select(vec_col).limit(1).collect()
    dim = len(first[0][0]) if first and first[0][0] is not None else 0
    rows_cap = (
        min(BROADCAST_MAX_BYTES // (dim * 8), BROADCAST_MAX_ROWS) if dim else 0
    )
    cap = max(LOCAL_MAX_VECTORS, rows_cap)
    fetched = None
    if cap and len(vectors.select(id_col).limit(cap + 1).collect()) <= cap:
        fetched = _fetch_matrix(vectors, id_col, vec_col, cap)

    if fetched is not None and len(fetched[1]) <= LOCAL_MAX_VECTORS:
        key, M, norms = fetched
        sig = _signatures(M, n_planes, seed)
        out = _verify_buckets(
            _local_buckets(sig, key, bands, bits, max_bucket),
            key, M, norms, threshold,
        )
        # a pair found in several bands carries identical sims
        pairs = {} if out is None else dict(
            zip(zip(out["id_a"].tolist(), out["id_b"].tolist()), out["sim"].tolist())
        )
        return local_frame(
            vectors.sparkSession,
            [(a, b, s) for (a, b), s in pairs.items()], out_schema,
        ).select("id_a", "id_b", F.round("sim", 4).alias("sim"))

    sig = vectors.select(
        F.col(id_col),
        _hyperplane_sig_auto(F.col(vec_col), n_planes, seed).alias("sig"),
    )
    buckets = _band_buckets(
        sig, F.col(id_col), _split_bands(F.col("sig"), bands, bits), max_bucket
    )

    if fetched is not None:
        # broadcast tier. Duplicates across bands are verified redundantly
        # (~5% extra at the sf1.0 operating point) in exchange for skipping
        # the pre-verify dedup shuffle of the full candidate set — the
        # dedup runs after the threshold filter, on the (tiny) surviving
        # pairs, where duplicate rows carry identical sims.
        bc = vectors.sparkSession.sparkContext.broadcast(fetched)
        return (
            buckets.select("_ms")
            .mapInPandas(_bc_verify_gen(bc, threshold), out_schema)
            .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
            .dropDuplicates(["id_a", "id_b"])
        )

    # join-back tier: candidate pairs stay ids-ONLY through the dedup
    # shuffle; vectors join back only for the verify (dragging both vectors
    # through dropDuplicates measured 3x wall on the sf0.1 bench) — the same
    # ids-then-payload shape as dedup.ngram_jaccard_pairs. The verify reads
    # the vector table again rather than caching it: at scale a full-corpus
    # persist is memory pressure, and the signature subtree is consumed
    # exactly once by the candidate aggregation.
    cand = _pair_expand(buckets, "id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    vecs = vectors.select(F.col(id_col), F.col(vec_col))
    return (
        cand.join(
            vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")),
            on="id_a",
        )
        .join(
            vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")),
            on="id_b",
        )
        .withColumn("sim", cosine_sim(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
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
