"""Product quantization (PQ) — the reference's headline compression tier,
re-expressed Spark-first.

Reference analog: ``ProductQuantization`` trains one k-means codebook per
subspace over a capped sample (quantization/ProductQuantization.java:88-154,
MAX_PQ_TRAINING_SET_SIZE=128k at :67), encodes each vector as one byte per
subspace (README.md:166-170's worked 32× example: 128 dims × 4 B → 16 B
codes), and scores queries against codes via a precomputed per-query
distance table — asymmetric distance computation, ``PQVectors.java:208-279``.

Spark-first shape (the same two-phase plumbing as the SQ8 tier):

- ``pq_train``: driver-side seeded k-means per subspace over a bounded
  ``orderBy(id).limit(n)`` sample — deterministic at any corpus size.
- ``pq_encode``: ``mapInPandas`` Arrow batches; one argmin GEMM per
  (batch × subspace), emitting ``m`` uint8 codes per vector as binary.
  At scale the codes table is persisted once and scanned per query batch.
- ``pq_approx_scores``: the ADC graft — ONE (m × k) table per query
  (codebook ⋅ query-subvector inner products), then scoring a batch of
  codes is ``m`` vectorized table lookups + a sum, touching only
  ``m`` bytes per corpus vector (32× fewer than float32 at m = dim/8).
- ``ann_topk_pq``: compressed scan → top-``rerank`` candidates
  (TakeOrderedAndProject, per-partition heaps) → exact float rerank on
  the driver (``similarity.two_phase_topk``, shared by every tier).
  With the default margin the output is rank-IDENTICAL to the exact scan
  (the fast-vs-slow equivalence idiom: same DuckDB oracle as ``ann_topk``
  in the driver contract, hash-checked).

Vectors are L2-normalized BEFORE encoding, so the ADC inner product
against the normalized query approximates cosine directly and no
per-vector norm is needed at scan time (the residual quantization error
is absorbed by the rerank margin).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import IVF_MAX_TRAINING, two_phase_topk

# candidates = max(PQ_RERANK_FLOOR, factor·k). Factor 10 is the reference
# grid's top overquery (Bench.java:47-52: overquery ∈ {1,2,5,10}); the floor
# absorbs the near-uniform-noise adversary, where the margin the true top-10
# needs GROWS with corpus size (measured on the synthetic Gaussian fixture:
# worst true-top-10 ADC rank 77 at N=500, 174 at N=2000 with m=8) — the same
# information-theoretic regime documented for the LSH/IVF tiers. On clustered
# data small margins suffice; bench's recall/QPS grid measures the curve.
# 256 candidates is negligible rerank work at any real corpus size.
PQ_RERANK_FACTOR = 10
PQ_RERANK_FLOOR = 256


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
    embeddings: DataFrame,
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
    pdf = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(int(sample_size))
        .toPandas()
    )
    X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
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
    subspace (the plain MSE encoder)."""
    m, _, dsub = B.shape
    codes = np.empty((len(X), m), dtype=np.uint8)
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        d = bsq[s] - 2.0 * (sub @ B[s].T)
        codes[:, s] = np.argmin(d, axis=1).astype(np.uint8)
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
    for _ in range(n_passes):
        changed = 0
        for s in range(m):
            t = dot_tables[s]  # (n, k)
            c_other = (xsq.sum(axis=1) - xsq[:, s]) - (dots.sum(axis=1) - dots[:, s])
            g = c_other[:, None] + xsq[:, s, None] - t  # residual·x if b chosen
            f = (eta - 1.0) * g**2 + bsq[s][None, :] - 2.0 * t
            new = np.argmin(f, axis=1)
            changed += int((new != codes[:, s]).sum())
            codes[:, s] = new
            dots[:, s] = t[rows, new]
        if changed == 0:
            break
    return codes.astype(np.uint8)


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anisotropic_eta: float | None = None,
) -> DataFrame:
    """(id, codes binary) — ``m`` uint8 codes per vector: nearest codebook
    entry per subspace, one argmin GEMM per (Arrow batch × subspace).
    m = dim/8 → 32× smaller than float32 (the README.md:166-170 headline).
    ``anisotropic_eta`` (e.g. 4.0) switches to the anisotropic
    coordinate-descent assignment (see :func:`_encode_batch_anisotropic`)."""
    B = np.ascontiguousarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _, dsub = B.shape
    if B.shape[1] > 256:
        raise ValueError(f"codebooks have {B.shape[1]} clusters; uint8 codes cap at 256")
    bsq = (B**2).sum(axis=2)  # (m, k)
    eta = anisotropic_eta

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            codes = (
                _encode_batch(X, B, bsq)
                if eta is None
                else _encode_batch_anisotropic(X, B, bsq, float(eta))
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "codes": [codes[i].tobytes() for i in range(len(codes))],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        fn, schema=f"{id_col} long, codes binary"
    )


def pq_approx_scores(
    codes: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, approx) — ADC: one (m × k) inner-product table per query
    (codebook entries ⋅ normalized query subvectors), then each code row
    scores as ``m`` table lookups + sum (PQVectors.java:208-279's
    precomputed-table scoring, vectorized over the whole Arrow batch)."""
    B = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, _, dsub = B.shape
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    # T[s, c] = codebook[s][c] · q_sub[s]  — the per-query distance table
    T = np.einsum("skd,sd->sk", B, q.reshape(m, dsub))

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            buf = b"".join(pdf["codes"])
            C = np.frombuffer(buf, dtype=np.uint8).reshape(len(pdf), m)
            approx = T[np.arange(m)[None, :], C].sum(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "approx": approx}
            )

    return codes.mapInPandas(fn, schema=f"{id_col} long, approx double")


def ann_topk_pq(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int | None = None,
    codes: DataFrame | None = None,
    codebooks: np.ndarray | None = None,
    m: int | None = None,
    deleted: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase top-k: PQ compressed scan (m bytes/vector — 32× fewer
    than float32 at the default m = dim/8) selects ``rerank`` candidates,
    exact float rerank orders the final k. Same fast-vs-slow contract as
    the SQ8 tier: with the default margin the result is rank-identical to
    ``cosine_topk`` (hash-checked vs the same oracle). ``codes``/
    ``codebooks`` accept a pre-built structure (at scale: train + encode
    once, scan codes per query batch). ``deleted`` is the tombstone
    relation (M1 mask, same contract as every other ANN tier): those ids
    drop off the compressed scan before candidate selection, so they
    neither surface nor consume rerank budget. The call runs the scan
    eagerly and returns a local relation (:func:`two_phase_topk`)."""
    if rerank is None:
        rerank = max(PQ_RERANK_FLOOR, PQ_RERANK_FACTOR * k)
    if codebooks is None:
        codebooks = pq_train(embeddings, m=m, id_col=id_col, vec_col=vec_col)
    if codes is None:
        codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    approx = pq_approx_scores(codes, codebooks, query_vec, id_col)
    return two_phase_topk(
        embeddings, approx, query_vec, k, rerank, deleted, id_col, vec_col
    )


def ann_topk_pq_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int | None = None,
    codes: DataFrame | None = None,
    codebooks: np.ndarray | None = None,
    m: int | None = None,
    deleted: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Batch two-phase PQ serving — the 32×-compression twin of
    :func:`~jvector_spark.operators.similarity.ann_topk_sq8_batch`: ONE
    compressed codes scan scores EVERY query (the per-query ADC tables for
    the whole batch are precomputed driver-side and shipped in the kernel
    closure; scoring a codes batch is ``m`` vectorized table gathers per
    query block, reading m bytes/vector), a bounded window keeps
    ``rerank`` candidates per query, and the exact float rerank touches
    only the candidate union (each candidate vector gathered once). With
    the default margin the output is rank-identical to
    ``cosine_topk_batch`` (pytest-enforced). ``deleted`` tombstones mask
    off the codes scan (M1). Reference analog: fused bulk ADC scoring
    over a query stream (PQVectors.java:208-279 + Q14)."""
    from pyspark.sql import Window

    if rerank is None:
        rerank = max(PQ_RERANK_FLOOR, PQ_RERANK_FACTOR * k)
    if codebooks is None:
        codebooks = pq_train(embeddings, m=m, id_col=id_col, vec_col=vec_col)
    if codes is None:
        codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    if deleted is not None:
        codes = codes.join(
            F.broadcast(deleted.select(id_col)), id_col, "left_anti"
        )
    qrows = queries.select(qid_col, qvec_col).collect()  # query-batch-sized
    if not qrows:
        return embeddings.sparkSession.createDataFrame(
            [], f"{qid_col} long, rank int, {id_col} long, cos double"
        )
    B = np.ascontiguousarray(codebooks, dtype=np.float64)
    mm, _, dsub = B.shape
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    # T[q, s, c] = codebook[s][c] · q_sub[s] — one ADC table PER QUERY,
    # all precomputed in a single einsum (batch × m × k doubles)
    T = np.einsum("skd,qsd->qsk", B, Qn.reshape(len(Qn), mm, dsub))
    Tm = np.ascontiguousarray(T.transpose(1, 2, 0))  # (m, k, Q) for gathers
    rr = int(rerank)

    def approx_fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            buf = b"".join(pdf["codes"])
            C = np.frombuffer(buf, dtype=np.uint8).reshape(len(pdf), mm)
            S = np.zeros((len(pdf), len(qids)))
            for s in range(mm):
                S += Tm[s, C[:, s], :]
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
    w = Window.partitionBy(qid_col).orderBy(F.desc("approx"), F.asc(id_col))
    cand = (
        partial.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= rr)
        .select(qid_col, id_col)
    )
    qpos = {int(q): i for i, q in enumerate(qids)}
    joined = cand.join(embeddings.select(id_col, vec_col), id_col)

    def rerank_fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            qi = np.fromiter(
                (qpos[int(q)] for q in pdf[qid_col]), dtype=np.int64
            )
            cos = np.einsum("ij,ij->i", Xn, Qn[qi])
            yield pd.DataFrame(
                {
                    qid_col: pdf[qid_col].to_numpy(),
                    id_col: pdf[id_col].to_numpy(),
                    "cos": cos,
                }
            )

    exact = joined.mapInPandas(
        rerank_fn, schema=f"{qid_col} long, {id_col} long, cos double"
    )
    w2 = Window.partitionBy(qid_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= int(k))
        .select(qid_col, "rank", id_col, "cos")
    )


def pq_compression_ratio(dim: int, m: int | None = None) -> float:
    """float32 bytes per vector / PQ code bytes per vector."""
    if m is None:
        m = max(1, dim // 8)
    return (dim * 4.0) / float(m)
