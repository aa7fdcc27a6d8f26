"""Reference computations made apart from the program under test.

Everything here is plain Python and numpy: an independent re-implementation
of the feature-hash text embedder (the 64-bit xxHash of each token, seed
42, as Spark's ``xxhash64`` computes it), the filter DSL evaluated on the
generated attributes, and exact filtered top-k by cosine over the stored
vectors read with pyarrow. The benchmark grades every answer the program
serves against these.
"""

from __future__ import annotations

import re
import struct

import numpy as np

_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_SEED = 42  # Spark's XxHash64 default seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxhash64(data: bytes, seed: int = _SEED) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer (Spark's LongType)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = (
                _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            )
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, k)
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


class Embedder:
    """Feature-hash embedding of one text: each token adds the weight
    ``((h >> 8) mod 1000) / 1000`` to bucket ``h mod dim``; the vector is
    L2-normalised. Token hashes are memoised per instance."""

    def __init__(self, dim: int):
        self.dim = dim
        self._memo: dict[str, tuple[int, float]] = {}

    def _bucket_weight(self, tok: str) -> tuple[int, float]:
        got = self._memo.get(tok)
        if got is None:
            h = xxhash64(tok.encode("utf-8"))
            got = (h % self.dim, ((h >> 8) % 1000) / 1000.0)
            self._memo[tok] = got
        return got

    def embed(self, text: str) -> np.ndarray:
        v = np.zeros(self.dim)
        for tok in tokens(text):
            b, w = self._bucket_weight(tok)
            v[b] += w
        n = np.linalg.norm(v)
        if n == 0:
            raise ValueError(f"text embeds to the zero vector: {text!r}")
        return v / n

    def embed_many(self, texts: list[str]) -> np.ndarray:
        return np.stack([self.embed(t) for t in texts]) if texts else np.zeros((0, self.dim))


def filter_mask(node: dict, attrs: dict[str, np.ndarray]) -> np.ndarray:
    """Evaluate the service's filter DSL on attribute columns (numpy)."""
    (op, body), = node.items()
    if op in ("@and", "@or"):
        parts = [filter_mask(n, attrs) for n in body]
        out = parts[0]
        for p in parts[1:]:
            out = (out & p) if op == "@and" else (out | p)
        return out
    (attr, value), = body.items()
    col = attrs[attr]
    if op == "@eq":
        return col == value
    if op == "@lte":
        return col <= value
    if op == "@gte":
        return col >= value
    raise ValueError(f"filter operator {op!r} is not used by the benchmark")


def exact_topk(
    mat: np.ndarray, ids: np.ndarray, q: np.ndarray, mask: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, cosines) of the exact top-k among rows passing ``mask``,
    ordered by cosine descending then id ascending. ``mat`` rows are unit
    vectors; ``q`` is normalised here."""
    sel = np.flatnonzero(mask)
    sims = mat[sel] @ (q / np.linalg.norm(q))
    order = np.lexsort((ids[sel], -np.round(sims, 6)))[:k]
    return ids[sel][order], sims[order]


def read_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, unit-row matrix) of every stored vector under ``path`` — a
    flat embeddings parquet or a hive-partitioned IVF layout; files and
    directories starting with ``_`` or ``.`` are skipped as Spark skips
    them."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "embedding"]
    )
    ids = t.column("doc_id").to_numpy()
    flat = t.column("embedding").combine_chunks()
    dim = len(flat[0]) if len(flat) else 0
    mat = np.asarray(flat.flatten().to_numpy(zero_copy_only=False), dtype=np.float64)
    mat = mat.reshape(len(ids), dim)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids, kind="stable")
    return ids[order], (mat / norms)[order]
