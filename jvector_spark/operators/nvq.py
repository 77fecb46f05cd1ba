"""NVQ — per-vector NonUniform Vector Quantization: the reference's
high-fidelity compressed RERANK tier.

Reference analog: ``NVQuantization.java:487-638`` stores, PER VECTOR,
(minValue, maxValue) plus the parameters of a learned logistic warp
(``logisticAlpha``/``logisticX0``, fit by minimizing reconstruction loss
— ``quantizeTo`` at :524-573, kernel ``nvqQuantize8bit`` at
``DefaultVectorUtilSupport.java:487-502``), at 8 or 4 bits per dimension
(``BitsPerDimension`` EIGHT/FOUR, NVQuantization.java:48-112).
``NVQScorer.java``/``NVQVectors.java`` then score candidates off the
codes alone — NVQ's role in the reference stack is to REPLACE the raw
float vectors in the rerank stage of a coarser first pass, so serving
never touches full-precision storage.

What distinguishes NVQ from the corpus-trained tiers (and why it earns a
separate slot next to SQ8/PQ/BQ):

- parameters are PER VECTOR, so there is no training pass, nothing
  shared to drift, and ``extend`` is exactly equivalent to a fresh build
  (SQ8 clips out-of-range extends; PQ encodes under stale codebooks).
- the warp is NONUNIFORM: code points concentrate where the vector's own
  component distribution is dense, so 8 bits/dim reconstructs tighter
  than a uniform grid on heavy-centered data.

Spark-first shape — the ``NVQ`` tier record on the shared two-phase path
(``similarity.ann_topk_tier``): encoding is one ``mapInPandas`` pass
(whole-batch numpy; the reference's per-subvector Newton fit becomes a
deterministic vectorized grid search over the growth rate with the
midpoint fixed at the reference's initializer — the grid includes α = 0,
i.e. plain uniform, so the learned code is never worse than uniform).
Codes persist as one parquet row per vector ``(vec_id, mn, dl, alpha,
codes binary)``; queries scan 1 B/dim (8-bit) or 0.5 B/dim (4-bit) plus
three doubles. ``index.vectors.ann_topk_pq_nvq_indexed`` uses
:func:`nvq_scores` as the second-phase scorer instead of the exact
kernel, so raw floats are never read.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .similarity import (
    Tier,
    VectorRows,
    ann_topk_tier,
    binary_rows,
    code_matrix,
    deleted_ids,
    encode_codes,
    first_dim,
    per_query,
    unit,
)

# growth-rate candidates for the per-vector warp fit; 0 = uniform grid
# (always in the grid → learned MSE ≤ uniform MSE by construction)
NVQ_ALPHA_GRID = (0.0, 1.0, 2.0, 4.0, 8.0, 16.0)


def _warp(u: np.ndarray, alpha: float) -> np.ndarray:
    """Logistic warp of unit-interval coordinates, rescaled to [0, 1]
    (the scaledLogisticFunction of DefaultVectorUtilSupport.java:487-502
    with midpoint at the center of the range). α = 0 → identity."""
    if alpha == 0.0:
        return u
    s0 = 1.0 / (1.0 + np.exp(alpha * 0.5))
    s1 = 1.0 / (1.0 + np.exp(-alpha * 0.5))
    s = 1.0 / (1.0 + np.exp(-alpha * (u - 0.5)))
    return (s - s0) / (s1 - s0)


def _unwarp(y: np.ndarray, alpha: np.ndarray) -> np.ndarray:
    """Inverse warp, vectorized over rows with per-row α (α = 0 rows pass
    through). ``y`` is (n, dim) in [0, 1]; ``alpha`` is (n,)."""
    a = alpha[:, None]
    safe = np.where(a == 0.0, 1.0, a)
    s0 = 1.0 / (1.0 + np.exp(safe * 0.5))
    s1 = 1.0 / (1.0 + np.exp(-safe * 0.5))
    v = np.clip(y * (s1 - s0) + s0, 1e-12, 1.0 - 1e-12)
    u = 0.5 + np.log(v / (1.0 - v)) / safe
    return np.where(a == 0.0, y, u)


def _pack(codes: np.ndarray, bits: int) -> np.ndarray:
    """(n, dim) uint8 code points → (n, dim·bits/8) packed bytes.
    4-bit packs two codes per byte, low nibble first (the little-end
    convention of the BQ layout)."""
    if bits == 8:
        return codes
    if codes.shape[1] % 2:
        codes = np.concatenate(
            [codes, np.zeros((len(codes), 1), dtype=np.uint8)], axis=1
        )
    return (codes[:, 0::2] | (codes[:, 1::2] << 4)).astype(np.uint8)


def _unpack(raw: np.ndarray, dim: int, bits: int) -> np.ndarray:
    """Inverse of :func:`_pack`: (n, bytes) → (n, dim) uint8 codes."""
    if bits == 8:
        return raw[:, :dim]
    out = np.empty((len(raw), raw.shape[1] * 2), dtype=np.uint8)
    out[:, 0::2] = raw & 0x0F
    out[:, 1::2] = raw >> 4
    return out[:, :dim]


def _nvq_encode(X: np.ndarray, bits: int) -> dict:
    """Per-vector nonuniform codes of a batch. For each vector: range =
    [min, max] of ITS OWN components (NVQuantization.java:524-526), then
    the growth rate of the logistic warp is fit per vector by a
    deterministic grid search minimizing reconstruction MSE (the
    whole-batch-vectorized form of the reference's per-subvector loss
    minimization at :533-565; midpoint fixed at the range center, the
    reference's initializer)."""
    levels = float((1 << bits) - 1)
    mn = X.min(axis=1)
    dl = np.maximum(X.max(axis=1) - mn, 1e-12)
    u = (X - mn[:, None]) / dl[:, None]
    best_mse = np.full(len(X), np.inf)
    best_alpha = np.zeros(len(X))
    best_codes = np.zeros(X.shape, dtype=np.uint8)
    for alpha in NVQ_ALPHA_GRID:
        y = _warp(u, alpha)
        c = np.round(y * levels)
        ru = _unwarp(c / levels, np.full(len(X), alpha))
        mse = ((ru - u) ** 2).mean(axis=1)
        take = mse < best_mse
        best_mse[take] = mse[take]
        best_alpha[take] = alpha
        best_codes[take] = c[take].astype(np.uint8)
    return {"mn": mn, "dl": dl, "alpha": best_alpha,
            "codes": binary_rows(_pack(best_codes, bits))}


def nvq_reconstruct_batch(
    pdf: pd.DataFrame, dim: int, bits: int
) -> np.ndarray:
    """Dequantize one Arrow batch of NVQ code rows back to (n, dim)
    float64 — the NVQVectors.java scoring kernel's dequant step, whole
    batch at once."""
    levels = float((1 << bits) - 1)
    raw = code_matrix(pdf, (dim * bits + 7) // 8)
    y = _unpack(raw, dim, bits).astype(np.float64) / levels
    u = _unwarp(y, pdf["alpha"].to_numpy())
    return pdf["mn"].to_numpy()[:, None] + pdf["dl"].to_numpy()[:, None] * u


def nvq_scores(codes: pd.DataFrame, Q: np.ndarray, params) -> np.ndarray:
    """Cosine of each query against the DEQUANTIZED codes, one reconstruct
    per Arrow batch + one row-wise ``einsum`` per query, so a row's score
    does not depend on its batch (NVQScorer.java's score-off-the-codes
    contract; raw vectors are never read). ``params`` is the bit width."""
    X = nvq_reconstruct_batch(codes, Q.shape[1], params)
    norms = np.maximum(np.linalg.norm(X, axis=1), 1e-12)
    return per_query(Q, lambda q: np.einsum("ij,j->i", X, unit(q)) / norms)


def _check_bits(bits: int) -> int:
    if bits not in (4, 8):
        raise ValueError(f"bits must be 4 or 8, got {bits}")
    return int(bits)


def _nvq_fit(embeddings: DataFrame | VectorRows, id_col: str, vec_col: str,
             bits: int = 8):
    # nothing trained: the manifest records (dim, bits), ``m`` carrying bits
    bits = _check_bits(bits)
    return bits, {"dim": first_dim(embeddings, vec_col), "m": bits}


NVQ = Tier(
    "nvq", _nvq_fit, _nvq_encode, nvq_scores, floor=64, factor=6,
    read_params=lambda index_dir, manifest: int(manifest["m"]),
    code_schema="mn double, dl double, alpha double, codes binary",
)


def nvq_encode(embeddings: DataFrame, bits: int = 8, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, mn, dl, alpha, codes binary) — per-vector nonuniform codes
    (:func:`_nvq_encode`). No corpus statistics are consumed anywhere —
    encode is embarrassingly parallel and extend ≡ rebuild by
    construction."""
    return encode_codes(NVQ, embeddings, _check_bits(bits), id_col, vec_col)


def ann_topk_nvq(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                 rerank: int | None = None, codes: DataFrame | None = None,
                 bits: int = 8, deleted: DataFrame | None = None,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(rank, id, cos): NVQ two-phase top-k — same fast-vs-slow contract
    as the SQ8/PQ/BQ tiers (TestCompressedVectors.java:231), with the
    first pass reading 1 B/dim + 3 doubles per vector. ``deleted`` is the
    M1 tombstone mask, dropped before candidate selection."""
    return ann_topk_tier(
        NVQ, embeddings, query_vec, k, rerank, codes, bits,
        deleted_ids(deleted, id_col), id_col, vec_col,
    )


def ann_topk_nvq_batch(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                       rerank: int | None = None, codes: DataFrame | None = None,
                       bits: int = 8, deleted: DataFrame | None = None,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       qid_col: str = "query_id", qvec_col: str = "qvec") -> DataFrame:
    """(query_id, rank, id, cos): BATCH serving — ONE NVQ codes scan scores
    a whole query table (ThroughputBenchmark.java:188-236)."""
    return ann_topk_tier(
        NVQ, embeddings, queries, k, rerank, codes, bits,
        deleted_ids(deleted, id_col), id_col, vec_col, qid_col, qvec_col,
    )
