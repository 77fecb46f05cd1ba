"""Product quantization (PQ) — the reference's headline compression tier,
re-expressed Spark-first.

Reference analog: ``ProductQuantization`` trains one k-means codebook per
subspace over a capped sample (quantization/ProductQuantization.java:88-154,
MAX_PQ_TRAINING_SET_SIZE=128k at :67), encodes each vector as one byte per
subspace (README.md:166-170's worked 32× example: 128 dims × 4 B → 16 B
codes), and scores queries against codes via a precomputed per-query
distance table — asymmetric distance computation, ``PQVectors.java:208-279``.

Spark-first shape — the ``PQ`` tier record on the shared two-phase path
(``similarity.ann_topk_tier``):

- ``pq_train``: driver-side seeded k-means per subspace over a bounded
  ``orderBy(id).limit(n)`` sample (the first rows of a collected,
  driver-sized input) — deterministic at any corpus size.
- encode: one argmin GEMM per (Arrow batch × subspace), emitting ``m``
  uint8 codes per vector as binary. At scale the codes table is persisted
  once (``index.vectors.pq_build``) and scanned per query batch.
- ``pq_scores``: the ADC graft — ONE (m × k) table per query
  (codebook ⋅ query-subvector inner products), then scoring a batch of
  codes is ``m`` vectorized table lookups + a sum, touching only ``m``
  bytes per corpus vector (32× fewer than float32 at m = dim/8).
- ``ann_topk_pq``/``ann_topk_pq_batch``: the top-``rerank`` ADC
  candidates per query, then the exact float rerank on the driver. With
  the default margin the output is rank-IDENTICAL to the exact scan (the
  fast-vs-slow equivalence idiom: same DuckDB oracle as ``ann_topk`` in
  the driver contract, hash-checked).

Vectors are L2-normalized BEFORE encoding, so the ADC inner product
against the normalized query approximates cosine directly and no
per-vector norm is needed at scan time (the residual quantization error
is absorbed by the rerank margin).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..index.storage import arrow_rows, read_required, write_local
from .similarity import (
    IVF_MAX_TRAINING,
    Tier,
    VectorRows,
    ann_topk_tier,
    binary_rows,
    code_matrix,
    deleted_ids,
    encode_codes,
    first_equal,
    per_query,
    sample_matrix,
    training_sample,
    unit,
)

# default rerank depth = max(256, 10·k). Factor 10 is the reference
# grid's top overquery (Bench.java:47-52: overquery ∈ {1,2,5,10}); the floor
# absorbs the near-uniform-noise adversary, where the margin the true top-10
# needs GROWS with corpus size (measured on the synthetic Gaussian fixture:
# worst true-top-10 ADC rank 77 at N=500, 174 at N=2000 with m=8) — the same
# information-theoretic regime documented for the LSH/IVF tiers. On clustered
# data small margins suffice; bench's recall/QPS grid measures the curve.
# 256 candidates is negligible rerank work at any real corpus size.


def _kmeans_euclid(X: np.ndarray, k: int, n_iters: int, rng) -> np.ndarray:
    """Seeded k-means++ + Lloyd iterations, Euclidean metric, fully
    vectorized (the per-subspace codebook trainer —
    KMeansPlusPlusClusterer.java's role)."""
    n = len(X)
    k = min(int(k), n)
    cents = np.empty((k, X.shape[1]), dtype=np.float64)
    cents[0] = X[int(rng.integers(n))]
    d2 = ((X - cents[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        s = d2.sum()
        idx = int(rng.choice(n, p=d2 / s)) if s > 0 else int(rng.integers(n))
        cents[j] = X[idx]
        d2 = np.minimum(d2, ((X - cents[j]) ** 2).sum(axis=1))
    for _ in range(n_iters):
        # argmin_j |x-c_j|² = argmin_j (|c_j|² - 2x·c_j); |x|² is constant
        d = (cents**2).sum(axis=1) - 2.0 * (X @ cents.T)
        assign = np.argmin(d, axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                cents[j] = X[m].mean(axis=0)
    return cents


def pq_train(
    embeddings: DataFrame | VectorRows,
    m: int | None = None,
    n_clusters: int = 256,
    n_iters: int = 10,
    sample_size: int = IVF_MAX_TRAINING,
    seed: int = 99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Codebooks (m, k, dim/m) — one Euclidean k-means per subspace over a
    bounded deterministic sample of L2-NORMALIZED vectors. ``m`` defaults
    to dim/8 (the reference Bench default: PQ m = dim/8, k = 256 —
    Bench.java:45-76); dim must divide evenly by ``m``."""
    if not 1 <= int(n_clusters) <= 256:
        # codes are uint8 — more than 256 clusters would silently wrap
        # modulo 256 and corrupt every ADC score downstream
        raise ValueError(f"n_clusters must be in [1, 256], got {n_clusters}")
    X = training_sample(embeddings, sample_size, id_col, vec_col)
    dim = X.shape[1]
    if m is None:
        m = max(1, dim // 8)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = [
        _kmeans_euclid(X[:, s * dsub : (s + 1) * dsub], n_clusters, n_iters, rng)
        for s in range(m)
    ]
    k = min(len(b) for b in books)  # uniform (all = min(n_clusters, n))
    return np.stack([b[:k] for b in books])


def _encode_batch(X: np.ndarray, B: np.ndarray, bsq: np.ndarray) -> np.ndarray:
    """Nearest-centroid codes for a normalized batch: one argmin GEMM per
    subspace (the plain MSE encoder), naming the first of equal centroids
    (:func:`~jvector_spark.operators.similarity.first_equal`)."""
    m, _, dsub = B.shape
    codes = np.empty((len(X), m), dtype=np.uint8)
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        d = bsq[s] - 2.0 * (sub @ B[s].T)
        codes[:, s] = first_equal(B[s])[np.argmin(d, axis=1)].astype(np.uint8)
    return codes


def _encode_batch_anisotropic(
    X: np.ndarray, B: np.ndarray, bsq: np.ndarray, eta: float, n_passes: int = 3
) -> np.ndarray:
    """Anisotropic coordinate-descent code assignment — the graft of the
    reference's accuracy-per-byte encoder (ProductQuantization.java:244-424,
    following Guo et al.'s ScaNN anisotropic loss): reconstruction error
    PARALLEL to the vector is weighted ``eta`` × the orthogonal error, so
    at the same byte budget the codes preferentially preserve inner
    products (what ADC actually scores) over generic MSE.

    For unit x with reconstruction r and residual e = x − r the loss is
    η·(e·x)² + (|e|² − (e·x)²) = (η−1)(e·x)² + |e|². Holding the other
    subspaces fixed, the per-subspace candidate objective reduces to
    f(b) = (η−1)·(C_other + |x_s|² − b·x_s)² + |b|² − 2·b·x_s, fully
    vectorized over (batch × candidates); passes sweep subspaces until the
    assignment stabilizes (init = nearest-centroid)."""
    m, k, dsub = B.shape
    n = len(X)
    codes = _encode_batch(X, B, bsq).astype(np.int64)
    # per-subspace stats under the current assignment
    xsq = np.empty((n, m))  # |x_s|²
    dots = np.empty((n, m))  # b_s · x_s for the chosen codes
    dot_tables = []  # (n, k) per subspace: all candidate dots
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        xsq[:, s] = (sub**2).sum(axis=1)
        t = sub @ B[s].T
        dot_tables.append(t)
        dots[:, s] = t[np.arange(n), codes[:, s]]
    rows = np.arange(n)
    first = [first_equal(B[s]) for s in range(m)]
    for _ in range(n_passes):
        changed = 0
        for s in range(m):
            t = dot_tables[s]  # (n, k)
            c_other = (xsq.sum(axis=1) - xsq[:, s]) - (dots.sum(axis=1) - dots[:, s])
            g = c_other[:, None] + xsq[:, s, None] - t  # residual·x if b chosen
            f = (eta - 1.0) * g**2 + bsq[s][None, :] - 2.0 * t
            new = first[s][np.argmin(f, axis=1)]
            changed += int((new != codes[:, s]).sum())
            codes[:, s] = new
            dots[:, s] = t[rows, new]
        if changed == 0:
            break
    return codes.astype(np.uint8)


def pq_sample_mse(
    embeddings: DataFrame | VectorRows,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
) -> float:
    """Mean squared quantization error of a bounded deterministic sample
    under ``books`` — the drift statistic (stored in the manifest at build
    time; compared against fresh data by ``index.vectors.pq_drift``)."""
    X = sample_matrix(embeddings, sample_size, id_col, vec_col)
    if len(X) == 0:
        return 0.0
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    mm, _, dsub = books.shape
    err = 0.0
    for s in range(mm):
        sub = X[:, s * dsub : (s + 1) * dsub]
        d = ((books[s] ** 2).sum(axis=1) - 2.0 * (sub @ books[s].T))
        code = np.argmin(d, axis=1)
        err += float(((sub - books[s][code]) ** 2).sum())
    return err / len(X)


def pq_scores(codes: pd.DataFrame, Q: np.ndarray, params) -> np.ndarray:
    """ADC: one (m × k) inner-product table per query (codebook entries ⋅
    normalized query subvectors), then each code row scores as ``m`` table
    lookups + sum (PQVectors.java:208-279's precomputed-table scoring,
    vectorized over the whole Arrow batch)."""
    B = np.ascontiguousarray(params, dtype=np.float64)
    m, _, dsub = B.shape
    C = code_matrix(codes, m)

    def column(q):
        # T[s, c] = codebook[s][c] · q_sub[s] — the per-query distance table
        T = np.einsum("skd,sd->sk", B, unit(q).reshape(m, dsub))
        return T[np.arange(m)[None, :], C].sum(axis=1)

    return per_query(Q, column)


def _pq_encode(X: np.ndarray, books, anisotropic_eta: float | None = None) -> dict:
    B = np.ascontiguousarray(books, dtype=np.float64)  # (m, k, dsub)
    bsq = (B**2).sum(axis=2)  # (m, k)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    if anisotropic_eta is None:
        return {"codes": binary_rows(_encode_batch(X, B, bsq))}
    return {"codes": binary_rows(
        _encode_batch_anisotropic(X, B, bsq, float(anisotropic_eta))
    )}


def _pq_write(books: np.ndarray, index_dir: str) -> None:
    mm, k, _ = books.shape
    write_local(
        arrow_rows(
            [
                (int(s), int(c), [float(x) for x in books[s, c]])
                for s in range(mm)
                for c in range(k)
            ],
            "subspace int, cluster int, centroid array<double>",
        ),
        index_dir, "codebooks", mode="overwrite",
    )


def _pq_read(index_dir: str, manifest: dict) -> np.ndarray:
    tbl = read_required(index_dir, "codebooks").sort_by(
        [("subspace", "ascending"), ("cluster", "ascending")]
    )
    books = pc.list_flatten(tbl["centroid"]).to_numpy().astype(np.float64)
    return books.reshape(manifest["m"], manifest["k"], manifest["dsub"])


def _pq_fit(embeddings: DataFrame | VectorRows, id_col: str, vec_col: str, **kw):
    books = pq_train(embeddings, id_col=id_col, vec_col=vec_col, **kw)
    mm, k, dsub = books.shape
    mse = pq_sample_mse(embeddings, books, id_col, vec_col)
    return books, {"dim": mm * dsub, "m": mm, "k": k, "dsub": dsub, "train_mse": mse}


PQ = Tier(
    "pq", _pq_fit, _pq_encode, pq_scores, floor=256, factor=10,
    read_params=_pq_read, write_params=_pq_write,
)


def pq_encode(embeddings: DataFrame, codebooks: np.ndarray, id_col: str = "vec_id",
              vec_col: str = "embedding",
              anisotropic_eta: float | None = None) -> DataFrame:
    """(id, codes binary) — ``m`` uint8 codes per vector: nearest codebook
    entry per subspace, one argmin GEMM per (Arrow batch × subspace).
    m = dim/8 → 32× smaller than float32 (the README.md:166-170 headline).
    ``anisotropic_eta`` (e.g. 4.0) switches to the anisotropic
    coordinate-descent assignment (see :func:`_encode_batch_anisotropic`)."""
    if np.shape(codebooks)[1] > 256:
        raise ValueError(
            f"codebooks have {np.shape(codebooks)[1]} clusters; uint8 codes cap at 256"
        )
    return encode_codes(
        PQ, embeddings, codebooks, id_col, vec_col, anisotropic_eta=anisotropic_eta
    )


def ann_topk_pq(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                rerank: int | None = None, codes: DataFrame | None = None,
                codebooks: np.ndarray | None = None, m: int | None = None,
                deleted: DataFrame | None = None, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """(rank, id, cos): PQ two-phase top-k (m bytes/vector scanned — 32×
    fewer than float32 at the default m = dim/8). ``codes``/``codebooks``
    accept a pre-built structure (at scale: train + encode once, scan
    codes per query batch); ``deleted`` is the tombstone relation (M1
    mask), dropped before candidate selection."""
    if codebooks is None:
        codebooks = pq_train(embeddings, m=m, id_col=id_col, vec_col=vec_col)
    return ann_topk_tier(
        PQ, embeddings, query_vec, k, rerank, codes, codebooks,
        deleted_ids(deleted, id_col), id_col, vec_col,
    )


def ann_topk_pq_batch(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                      rerank: int | None = None, codes: DataFrame | None = None,
                      codebooks: np.ndarray | None = None, m: int | None = None,
                      deleted: DataFrame | None = None, id_col: str = "vec_id",
                      vec_col: str = "embedding", qid_col: str = "query_id",
                      qvec_col: str = "qvec") -> DataFrame:
    """(query_id, rank, id, cos): the batch form of :func:`ann_topk_pq` —
    ONE codes scan scores every query (fused bulk ADC over a query stream,
    PQVectors.java:208-279 + Q14)."""
    if codebooks is None:
        codebooks = pq_train(embeddings, m=m, id_col=id_col, vec_col=vec_col)
    return ann_topk_tier(
        PQ, embeddings, queries, k, rerank, codes, codebooks,
        deleted_ids(deleted, id_col), id_col, vec_col, qid_col, qvec_col,
    )


def pq_compression_ratio(dim: int, m: int | None = None) -> float:
    """float32 bytes per vector / PQ code bytes per vector."""
    if m is None:
        m = max(1, dim // 8)
    return (dim * 4.0) / float(m)
