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

Spark-first shape: encoding is one ``mapInPandas`` pass (whole-batch
numpy; the reference's per-subvector Newton fit becomes a deterministic
vectorized grid search over the growth rate with the midpoint fixed at
the reference's initializer — the grid includes α = 0, i.e. plain
uniform, so the learned code is never worse than uniform). Codes persist
as one parquet row per vector ``(vec_id, mn, dl, alpha, codes binary)``;
queries scan 1 B/dim (8-bit) or 0.5 B/dim (4-bit) plus three doubles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import exact_rerank_batch, two_phase_topk

NVQ_RERANK_FACTOR = 6
NVQ_RERANK_FLOOR = 64

# growth-rate candidates for the per-vector warp fit; 0 = uniform grid
# (always in the grid → learned MSE ≤ uniform MSE by construction)
NVQ_ALPHA_GRID = (0.0, 1.0, 2.0, 4.0, 8.0, 16.0)

_CODE_SCHEMA = "{id} long, mn double, dl double, alpha double, codes binary"


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
    convention of the BQ/bitpack layouts)."""
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


def nvq_encode(
    embeddings: DataFrame,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, mn, dl, alpha, codes binary) — per-vector nonuniform codes.

    For each vector: range = [min, max] of ITS OWN components
    (NVQuantization.java:524-526), then the growth rate of the logistic
    warp is fit per vector by a deterministic grid search minimizing
    reconstruction MSE (the whole-batch-vectorized form of the
    reference's per-subvector loss minimization at :533-565; midpoint
    fixed at the range center, the reference's initializer). No corpus
    statistics are consumed anywhere — encode is embarrassingly parallel
    and extend ≡ rebuild by construction."""
    if bits not in (4, 8):
        raise ValueError(f"bits must be 4 or 8, got {bits}")
    levels = float((1 << bits) - 1)

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
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
            packed = _pack(best_codes, bits)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "mn": mn,
                    "dl": dl,
                    "alpha": best_alpha,
                    "codes": [packed[i].tobytes() for i in range(len(packed))],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        fn, schema=_CODE_SCHEMA.format(id=id_col)
    )


def nvq_reconstruct_batch(
    pdf: pd.DataFrame, dim: int, bits: int
) -> np.ndarray:
    """Dequantize one Arrow batch of NVQ code rows back to (n, dim)
    float64 — the NVQVectors.java scoring kernel's dequant step, whole
    batch at once."""
    levels = float((1 << bits) - 1)
    n_bytes = (dim * bits + 7) // 8
    buf = b"".join(pdf["codes"])
    raw = np.frombuffer(buf, dtype=np.uint8).reshape(len(pdf), n_bytes)
    y = _unpack(raw, dim, bits).astype(np.float64) / levels
    u = _unwarp(y, pdf["alpha"].to_numpy())
    return pdf["mn"].to_numpy()[:, None] + pdf["dl"].to_numpy()[:, None] * u


def nvq_approx_scores(
    codes: DataFrame,
    query_vec: list[float],
    bits: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, approx) — cosine of the query against the DEQUANTIZED codes,
    one reconstruct + GEMV per Arrow batch (NVQScorer.java's
    score-off-the-codes contract; raw vectors are never read)."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    dim = len(q)

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = nvq_reconstruct_batch(pdf, dim, bits)
            norms = np.maximum(np.linalg.norm(X, axis=1), 1e-12)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "approx": (X @ q) / norms}
            )

    return codes.mapInPandas(fn, schema=f"{id_col} long, approx double")


def ann_topk_nvq(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int | None = None,
    codes: DataFrame | None = None,
    bits: int = 8,
    deleted: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase top-k: NVQ compressed scan selects ``rerank`` candidates,
    exact float rerank orders the final k — same fast-vs-slow contract as
    the SQ8/PQ/BQ tiers (TestCompressedVectors.java:231), with the first
    pass reading 1 B/dim + 3 doubles per vector. ``deleted`` is the M1
    tombstone mask, dropped before candidate selection. The call runs the
    scan eagerly and returns a local relation (:func:`two_phase_topk`)."""
    if rerank is None:
        rerank = max(NVQ_RERANK_FLOOR, NVQ_RERANK_FACTOR * k)
    if codes is None:
        codes = nvq_encode(embeddings, bits, id_col, vec_col)
    approx = nvq_approx_scores(codes, query_vec, bits, id_col)
    return two_phase_topk(
        embeddings, approx, query_vec, k, rerank, deleted, id_col, vec_col
    )


def ann_topk_nvq_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int | None = None,
    codes: DataFrame | None = None,
    bits: int = 8,
    deleted: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """BATCH serving: ONE NVQ codes scan scores a whole query table
    (reconstruct each Arrow batch once, one GEMM against all queries),
    per-partition lexsort keeps ``rerank`` candidates per query, and the
    shared bounded window + exact gather rerank orders the final k — the
    batch shape every compressed tier serves
    (ThroughputBenchmark.java:188-236). ``deleted`` tombstones are masked
    off the codes scan itself (M1)."""
    if rerank is None:
        rerank = max(NVQ_RERANK_FLOOR, NVQ_RERANK_FACTOR * k)
    if codes is None:
        codes = nvq_encode(embeddings, bits, id_col, vec_col)
    if deleted is not None:
        codes = codes.join(
            F.broadcast(deleted.select(id_col)), id_col, "left_anti"
        )
    qrows = queries.select(qid_col, qvec_col).collect()  # query-batch-sized
    if not qrows:
        return embeddings.sparkSession.createDataFrame(
            [], f"{qid_col} long, rank int, {id_col} long, cos double"
        )
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    dim = Q.shape[1]
    rr = int(rerank)

    def approx_fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = nvq_reconstruct_batch(pdf, dim, bits)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            S = Xn @ Qn.T
            ids = pdf[id_col].to_numpy()
            parts = []
            for j in range(len(qids)):
                top = np.lexsort((ids, -S[:, j]))[:rr]
                parts.append(
                    pd.DataFrame(
                        {qid_col: qids[j], id_col: ids[top], "approx": S[top, j]}
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    partial = codes.mapInPandas(
        approx_fn, schema=f"{qid_col} long, {id_col} long, approx double"
    )
    return exact_rerank_batch(
        embeddings, partial, qids, Qn, k, rr, id_col, vec_col, qid_col
    )


def nvq_rerank(
    codes: DataFrame,
    cand_ids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Order ``cand_ids`` by NVQ-scored cosine and keep the top k — the
    reference's ACTUAL serving role for NVQ (NVQScorer.java: rerank the
    coarse pass's candidates off the codes, never touching raw floats).
    ``cand_ids`` is bounded (a first pass's rerank set), so the join
    ships ≤ rerank code rows; scores are quantized-precision cosines."""
    cand = codes.join(F.broadcast(cand_ids.select(id_col)), id_col)
    scored = nvq_approx_scores(cand, query_vec, bits, id_col)
    top = scored.orderBy(F.desc("approx"), F.asc(id_col)).limit(int(k))
    # window-free rank over the ≤ k survivors (cosine_topk's idiom)
    return (
        top.coalesce(1)
        .sortWithinPartitions(F.desc("approx"), F.asc(id_col))
        .withColumn("rank", (F.monotonically_increasing_id() + 1).cast("int"))
        .select("rank", id_col, F.col("approx").alias("cos"))
    )
