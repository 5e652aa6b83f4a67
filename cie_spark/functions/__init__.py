"""Scalar building blocks: deterministic IDs, normalization, mock embeddings.

All pure built-in Column expressions (JVM-side, codegen'd) except the mock
embedder, which is an Arrow-vectorized pandas UDF by design (it stands in for
a network embedding service, reference pkg/ingestion/embedding.go:46-97).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cie_spark import spec


def norm_col(col: Column | str) -> Column:
    """Column rendering of spec.norm(): lower → collapse non-alnum → trim '-'.

    Stays inside whole-stage codegen; identical semantics to the Python and
    SQL renderings (tested for agreement in tests/test_spec.py).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(F.lower(c), r"[^a-z0-9]+", "-"), r"^-+|-+$", ""
    )


def row_lane_cols() -> list[Column]:
    """Two independent xxhash64 lanes over a transcript row's content —
    the per-row half of the constant-space conversation hash. ONE shared
    rendering (used by the incremental hash-delta pass AND the fused
    full-run extraction pass) so a conv_hash stored by either path compares
    equal when the data is unchanged."""
    content = F.concat_ws(
        "\x1f",
        F.col("turn_idx").cast("string"),
        F.coalesce(F.col("role"), F.lit("")),
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(F.col("tool"), F.lit("")),
    )
    return [
        F.xxhash64(content).alias("_h1"),
        F.xxhash64(content, F.lit(1)).alias("_h2"),
    ]


EMBED_DIM = 64

# xxHash64 constants (public algorithm; same values as Spark's XxHash64
# expression / sql/catalyst XXH64). The numpy reimplementation below exists
# so CPU-heavy minhash banding can run vectorized inside a pandas UDF while
# staying BIT-IDENTICAL to the F.xxhash64 expression formulation — pinned by
# tests/test_dedup.py::test_minhash_bands_udf_matches_expression.
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh_fmix_scalar(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    return h


def xxh64_int(i: int, seed: int = 42) -> int:
    """Spark XxHash64 of one INT input (the 4-byte path an IntegerType
    literal takes), as a Python int — used to pre-fold constant salts."""
    h = (seed + _XXH_P5 + 4) & _M64
    h ^= ((i & 0xFFFFFFFF) * _XXH_P1) & _M64
    h = ((h << 23 | h >> 41) & _M64) * _XXH_P2 % (1 << 64)
    h = (h + _XXH_P3) & _M64
    return _xxh_fmix_scalar(h)


def xxh64_long_array(v: np.ndarray, seed) -> np.ndarray:
    """Spark XxHash64 of LONG inputs (vectorized): hashLong(v, seed) for a
    uint64 array v. `seed` may be a scalar or an array broadcastable to v.
    Returns uint64."""
    p1 = np.uint64(_XXH_P1)
    p2 = np.uint64(_XXH_P2)
    p4 = np.uint64(_XXH_P4)
    k = v * p2
    k = ((k << np.uint64(31)) | (k >> np.uint64(33))) * p1
    h = (np.asarray(seed, dtype=np.uint64) + np.uint64((_XXH_P5 + 8) & _M64)) ^ k
    h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * p1 + p4
    # fmix
    h ^= h >> np.uint64(33)
    h *= p2
    h ^= h >> np.uint64(29)
    h *= np.uint64(_XXH_P3)
    h ^= h >> np.uint64(32)
    return h


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _le_words(flat: np.ndarray, offs: np.ndarray, nbytes: int) -> np.ndarray:
    """Little-endian unsigned ints of width `nbytes` gathered from byte
    positions offs..offs+nbytes-1 of `flat` (uint8)."""
    w = np.zeros(len(offs), dtype=np.uint64)
    for k in range(nbytes):
        w |= flat[offs + k].astype(np.uint64) << np.uint64(8 * k)
    return w


def xxh64_bytes_array(bs: list, seed: int = 42) -> np.ndarray:
    """Vectorized xxHash64 over a list of byte strings — BIT-IDENTICAL to
    Spark's XxHash64 expression on string/binary input (UTF-8 bytes, seed
    42), pinned by tests/test_dedup.py::test_xxh64_bytes_matches_spark.
    Masked chunk-position loops over the flattened byte buffer: work is
    O(total bytes), independent of the longest string."""
    n = len(bs)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    total = int(lens.sum())
    flat = (
        np.frombuffer(b"".join(bs), dtype=np.uint8)
        if total
        else np.zeros(0, dtype=np.uint8)
    )
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    p1 = np.uint64(_XXH_P1)
    p2 = np.uint64(_XXH_P2)
    p3 = np.uint64(_XXH_P3)
    p4 = np.uint64(_XXH_P4)
    p5 = np.uint64(_XXH_P5)
    s64 = np.uint64(seed & _M64)

    h = np.full(n, (seed + _XXH_P5) & _M64, dtype=np.uint64)
    pos = starts.copy()
    rem = lens.copy()

    big = lens >= 32
    if big.any():
        bidx = np.nonzero(big)[0]
        m = len(bidx)
        v = [
            np.full(m, (int(s64) + _XXH_P1 + _XXH_P2) & _M64, dtype=np.uint64),
            np.full(m, (int(s64) + _XXH_P2) & _M64, dtype=np.uint64),
            np.full(m, int(s64), dtype=np.uint64),
            np.full(m, (int(s64) - _XXH_P1) & _M64, dtype=np.uint64),
        ]
        boff = starts[bidx].copy()
        brem = lens[bidx].copy()
        alive = brem >= 32
        while alive.any():
            o = boff[alive]
            for lane in range(4):
                acc = v[lane][alive] + _le_words(flat, o + 8 * lane, 8) * p2
                v[lane][alive] = _rotl64(acc, 31) * p1
            boff[alive] += 32
            brem[alive] -= 32
            alive = brem >= 32
        hh = (
            _rotl64(v[0], 1) + _rotl64(v[1], 7)
            + _rotl64(v[2], 12) + _rotl64(v[3], 18)
        )
        for lane in range(4):
            hh = (hh ^ (_rotl64(v[lane] * p2, 31) * p1)) * p1 + p4
        h[bidx] = hh
        pos[bidx] = boff
        rem[bidx] = brem

    h += lens.astype(np.uint64)

    alive = rem >= 8
    while alive.any():
        k1 = _rotl64(_le_words(flat, pos[alive], 8) * p2, 31) * p1
        hv = h[alive] ^ k1
        h[alive] = _rotl64(hv, 27) * p1 + p4
        pos[alive] += 8
        rem[alive] -= 8
        alive = rem >= 8

    four = rem >= 4
    if four.any():
        hv = h[four] ^ (_le_words(flat, pos[four], 4) * p1)
        h[four] = _rotl64(hv, 23) * p2 + p3
        pos[four] += 4
        rem[four] -= 4

    alive = rem >= 1
    while alive.any():
        hv = h[alive] ^ (flat[pos[alive]].astype(np.uint64) * p5)
        h[alive] = _rotl64(hv, 11) * p1
        pos[alive] += 1
        rem[alive] -= 1
        alive = rem >= 1

    h ^= h >> np.uint64(33)
    h *= p2
    h ^= h >> np.uint64(29)
    h *= p3
    h ^= h >> np.uint64(32)
    out[:] = h
    return out


def fnv1a_array(tokens: np.ndarray) -> np.ndarray:
    """Vectorized FNV-1a 64 over an array of strings — one numpy pass per
    byte POSITION over the still-alive token set, so total work is O(sum of
    token UTF-8 lengths) regardless of the longest token. (np.char.encode
    was tried and rejected: it is an elementwise Python loop AND pads every
    token to the max width — 12 s/10^6 tokens vs ~0.7 s here.) Agrees
    byte-for-byte with the scalar hash_str, including embedded NULs."""
    n = len(tokens)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    bs = [s.encode() for s in tokens]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    total = int(lens.sum())
    if total == 0:
        return h
    buf = np.frombuffer(b"".join(bs), dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    prime = np.uint64(0x100000001B3)
    idx = np.arange(n)[lens > 0]
    j = 0
    while len(idx):
        c = buf[starts[idx] + j].astype(np.uint64)
        h[idx] = (h[idx] ^ c) * prime
        j += 1
        idx = idx[lens[idx] > j]
    return h


def mock_embedding_matrix(texts: pd.Series, dim: int = EMBED_DIM) -> np.ndarray:
    """Deterministic hash-bag embedding of a text batch, L2-normalized.

    Semantics (the frozen embedding spec, shared with the DuckDB oracle in
    __spark_entry__): tokenize on whitespace (lowercased); each token adds
    ±1 to component FNV1a(token) % dim, sign = bit 32 of the hash; then L2
    normalize. Fully vectorized: one explode + one batched FNV pass + one
    scatter-add per Arrow batch — no per-row Python.
    """
    s = texts.reset_index(drop=True).fillna("").astype(str).str.lower().str.split()
    n = len(s)
    out = np.zeros((n, dim), dtype=np.float32)
    ex = s.explode()
    ex = ex[ex.notna()]
    if len(ex):
        rows = ex.index.to_numpy(dtype=np.int64)
        h = fnv1a_array(ex.to_numpy(dtype=object))
        idx = (h % np.uint64(dim)).astype(np.int64)
        sign = np.where((h >> np.uint64(32)) & np.uint64(1), 1.0, -1.0).astype(
            np.float32
        )
        np.add.at(out, (rows, idx), sign)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    out /= norms
    return out


def __getattr__(name: str):
    """`mock_embedding`: the mock provider's embedding UDF (deterministic
    64-dim hash-bag vectors, L2-normalized; embedding.go:46-89 analog),
    `embedding_provider.embedding_udf(MockEmbeddingProvider())` under its
    own name. Resolved on first use: embedding_provider imports this
    module, so importing it here at load time would be circular."""
    if name == "mock_embedding":
        from cie_spark.functions.embedding_provider import mock_embedding

        return mock_embedding
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def hash_str(s: str) -> int:
    """FNV-1a 64-bit — deterministic across processes (unlike builtin hash)."""
    h = 0xCBF29CE484222325
    for ch in s.encode():
        h ^= ch
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h

