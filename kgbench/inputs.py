"""Seeded benchmark inputs. The same seed gives byte-identical tables.

The shapes follow the engine's sf0.1 test tables, so the workloads stress the
same code paths at a known size:

- ``events``: uniform ``event_type`` over five kinds, users drawn uniformly,
  timestamps increasing over 30 days. ``spec.TRANSCRIPTS_FROM_EVENTS_SQL``
  turns it into transcripts (one conversation per user).
- ``documents``: word salad over a 30-word vocabulary, 10-100 words. About 5%
  are near-duplicates (an earlier document plus the word ``dup``) and a few
  are exact copies.
- ``embeddings``: random unit vectors in 64 dimensions with ten labels. About
  1% are perturbed copies of another vector (cosine >= 0.95), so the
  near-duplicate operators have pairs to find and their recall is defined.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENTS_PER_USER = 100_000 / 1_500  # the sf0.1 ratio
DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def events_table(seed: int, n_users: int) -> pa.Table:
    rng = _rng(seed, 1)
    n = int(round(n_users * EVENTS_PER_USER))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    offs = np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(30.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(seed: int, n_docs: int) -> pa.Table:
    rng = _rng(seed, 2)
    vocab = np.array(DOC_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=-1, keepdims=True)


def embedding_matrix(seed: int, n_vecs: int) -> np.ndarray:
    rng = _rng(seed, 3)
    m = _unit(rng.standard_normal((n_vecs, EMB_DIM)))
    copies = rng.random(n_vecs) < 0.01
    copies[0] = False
    for i in np.flatnonzero(copies):
        src = m[int(rng.integers(0, i))]
        m[i] = _unit(src + rng.standard_normal(EMB_DIM) * 0.03)
    return m.astype(np.float32)


def embeddings_table(seed: int, n_vecs: int) -> pa.Table:
    m = embedding_matrix(seed, n_vecs)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": pa.array(_rng(seed, 4).integers(0, 10, n_vecs).astype(np.int32)),
    })


def query_vectors(seed: int, n: int, n_vecs: int) -> list[list[float]]:
    """Top-k probes: half perturbed corpus vectors (near hits), half random."""
    rng = _rng(seed, 5)
    corpus = embedding_matrix(seed, n_vecs)
    out = []
    for i in range(n):
        if i % 2 == 0:
            v = corpus[int(rng.integers(0, len(corpus)))] + rng.standard_normal(EMB_DIM) * 0.05
        else:
            v = rng.standard_normal(EMB_DIM)
        out.append([float(x) for x in _unit(v)])
    return out


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
