"""Deterministic pseudo-embeddings (network-free stand-in).

The reference embeds chunks/entities with OpenAI text-embedding-ada-002
(1536-d; core/embeddings.py:152-330, config/settings.py:95-97). Tests and
benchmarks here need *deterministic, network-free* vectors, so we derive a
unit vector from a counter-mode SHA-256 of the text (FIXTURES.md F5):

    block_i = sha256(utf8(text) || ":" || i)          (32 bytes each)
    raw     = concat(blocks)[: dim*4] as uint32 big-endian
    v       = raw / 2^32 * 2 - 1                      (uniform in [-1, 1])
    vec     = v / ||v||_2

Properties: identical text -> identical vector (the property every dedup /
similarity test relies on); distinct texts -> near-orthogonal at dim=32.
A real embedding client plugs into the same mapInPandas seam in
operators/similarity.py.
"""

from __future__ import annotations

import hashlib

import numpy as np

DEFAULT_DIM = 32


def _token_vector(token: str, dim: int) -> np.ndarray:
    n_blocks = (dim * 4 + 31) // 32
    data = b"".join(
        hashlib.sha256(token.encode("utf-8", "replace") + b":" + str(i).encode())
        .digest()
        for i in range(n_blocks)
    )[: dim * 4]
    raw = np.frombuffer(data, dtype=">u4").astype(np.float64)
    return raw / 2**32 * 2.0 - 1.0


def pseudo_embedding(text: str, dim: int = DEFAULT_DIM) -> np.ndarray:
    """Bag-of-words hash embedding: normalized sum of per-word hash vectors.

    Refines FIXTURES.md F5's whole-text hash: identical texts still map to
    identical vectors (the dedup invariant), and texts sharing vocabulary get
    cosine proportional to their word overlap — so similarity-edge operators
    (J1/J2) produce meaningful, deterministic structure instead of the
    near-orthogonal cloud a whole-text hash yields.
    """
    words = (text or "").lower().split()
    if not words:
        return _finalize(_token_vector("", dim), dim)
    acc = np.zeros(dim, dtype=np.float64)
    cache: dict[str, np.ndarray] = {}
    for w in words:
        v = cache.get(w)
        if v is None:
            v = _token_vector(w, dim)
            cache[w] = v
        acc += v
    return _finalize(acc, dim)


def _finalize(v: np.ndarray, dim: int) -> np.ndarray:
    norm = np.linalg.norm(v)
    if norm == 0.0:
        return (np.ones(dim) / np.sqrt(dim)).astype(np.float32)
    return (v / norm).astype(np.float32)


def pseudo_embed_many(texts: list[str], dim: int = DEFAULT_DIM) -> np.ndarray:
    """Batch variant used inside Arrow batches (shares the word-vector cache
    across the whole batch — web text has heavy vocabulary reuse)."""
    out = np.empty((len(texts), dim), dtype=np.float32)
    cache: dict[str, np.ndarray] = {}
    for i, t in enumerate(texts):
        words = (t or "").lower().split()
        if not words:
            out[i] = _finalize(_token_vector("", dim), dim)
            continue
        acc = np.zeros(dim, dtype=np.float64)
        for w in words:
            v = cache.get(w)
            if v is None:
                v = _token_vector(w, dim)
                cache[w] = v
            acc += v
        out[i] = _finalize(acc, dim)
    return out
