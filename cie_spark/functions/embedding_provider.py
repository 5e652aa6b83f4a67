"""Embedding-provider abstraction: the seam where a real embedding service
plugs into the pipeline (analog of the reference's provider interface +
classified retry/backoff, pkg/ingestion/embedding.go:173-311, 596-638).

The pipeline's vertex-enrich stage calls `embedding_udf(provider)`; swapping
`MockEmbeddingProvider` for a network-backed provider changes ONE
constructor argument, not the dataflow. Providers see whole Arrow batches
(pd.Series -> np.ndarray), so a real HTTP provider amortizes one request per
batch — never per row.

Retry classification mirrors the reference: transient failures (timeouts,
connection resets, 429/5xx-style errors raised as RetryableError) are
retried with exponential backoff; permanent failures (auth, bad request)
fail the task immediately so Spark's own task-retry doesn't burn attempts on
a hopeless call.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Protocol, runtime_checkable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cie_spark.functions import EMBED_DIM, mock_embedding_matrix


class RetryableError(Exception):
    """Transient provider failure (timeout / throttle / 5xx analog)."""


@runtime_checkable
class EmbeddingProvider(Protocol):
    dim: int

    def embed_batch(self, texts: pd.Series) -> np.ndarray:  # (n, dim) float32
        ...


@dataclass
class MockEmbeddingProvider:
    """Deterministic hash-bag embeddings (embedding.go:46-97 analog)."""

    dim: int = EMBED_DIM

    def embed_batch(self, texts: pd.Series) -> np.ndarray:
        return mock_embedding_matrix(texts, dim=self.dim)


RETRYABLE = (RetryableError, ConnectionError, TimeoutError)


@dataclass
class RetryingProvider:
    """Wraps a provider with classified retry + exponential backoff.

    Retries only RETRYABLE errors, up to max_retries, sleeping
    base_backoff * 2^attempt (capped) between attempts — the
    classify-then-retry loop of embedding.go:596-638. Everything else
    propagates immediately (permanent failure class).
    """

    inner: EmbeddingProvider
    max_retries: int = 3
    base_backoff: float = 0.1
    max_backoff: float = 5.0

    @property
    def dim(self) -> int:
        return self.inner.dim

    def embed_batch(self, texts: pd.Series) -> np.ndarray:
        attempt = 0
        while True:
            try:
                return self.inner.embed_batch(texts)
            except RETRYABLE:
                if attempt >= self.max_retries:
                    raise
                time.sleep(min(self.base_backoff * (2 ** attempt), self.max_backoff))
                attempt += 1


def embedding_udf(provider: EmbeddingProvider, name: str = "_embed"):
    """Arrow-batched pandas UDF backed by `provider` (column -> array<float>),
    shown as `name` in query plans."""

    def _embed(texts: pd.Series) -> pd.Series:
        mat = provider.embed_batch(texts)
        return pd.Series(list(np.asarray(mat, dtype=np.float32)))

    _embed.__name__ = name
    return F.pandas_udf(_embed, T.ArrayType(T.FloatType()))


# functions.mock_embedding (see there)
mock_embedding = embedding_udf(MockEmbeddingProvider(), "mock_embedding")
