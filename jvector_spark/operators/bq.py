"""Binary Quantization (BQ) — the reference's cheapest memory tier: 1 bit
per dimension (32× fewer scan bytes than float32), Hamming-distance first
pass, exact float rerank.

Reference analog: ``BinaryQuantization.java:88-110`` encodes each
dimension's sign into a packed long array and ``BQVectors.java:95-118``
scores with ``Long.bitCount`` over the XOR — similarity is the number of
agreeing sign bits. For unit vectors the agreement fraction estimates
1 − θ/π (the SimHash identity), so Hamming order approximates cosine
order and the exact rerank restores it.

Spark-first shape — identical two-phase plumbing to the SQ8/PQ tiers:
codes persist once (``index.vectors.bq_build``), each query scans
dim/8 bytes per vector (vectorized ``np.unpackbits`` XOR popcount per
Arrow batch), TakeOrderedAndProject keeps ``rerank`` candidates, exact
rerank orders the final k. The packed layout is the shelved PFor bitpack
codec at width 1 (``index/codec.py:107-133``) — little-bit-first, exact
round-trip property-tested there.

A 1-bit code is the coarsest tier, so the rank-identical-to-exact margin
needs more headroom than SQ8/PQ: on the near-uniform synthetic fixture
the worst true-top-10 Hamming rank measured 71/166/253 at N =
500/500/2000 — the floor of 512 covers those with ≥2× margin, and at any
real corpus size 512 candidate reranks are negligible work. On noise the
needed margin GROWS with N (information-theoretic, same regime documented
for LSH/IVF/PQ); BQ is the memory-floor tier, not the recall tier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import exact_rerank_batch, two_phase_topk

BQ_RERANK_FACTOR = 16
BQ_RERANK_FLOOR = 512


def bq_encode(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes binary) — one sign bit per dimension, packed
    little-bit-first (bitpack width-1 layout): dim/8 bytes per vector,
    32× smaller than float32. No training phase — the codebook of BQ is
    the sign function (BinaryQuantization.java:88-110)."""

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (X > 0).astype(np.uint8)
            packed = np.packbits(bits, axis=1, bitorder="little")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "codes": [packed[i].tobytes() for i in range(len(packed))],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        fn, schema=f"{id_col} long, codes binary"
    )


def bq_query_bits(query_vec: list[float]) -> np.ndarray:
    q = np.asarray(query_vec, dtype=np.float64)
    return (q > 0).astype(np.uint8)


def bq_approx_scores(
    codes: DataFrame,
    query_vec: list[float],
    dim: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, approx) — approx = number of AGREEING sign bits (dim − Hamming):
    whole-batch unpackbits + XOR popcount, the BQVectors.java:95-118
    ``Long.bitCount`` loop vectorized over the Arrow batch."""
    qb = bq_query_bits(query_vec)
    n_bytes = (dim + 7) // 8

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            buf = b"".join(pdf["codes"])
            C = np.frombuffer(buf, dtype=np.uint8).reshape(len(pdf), n_bytes)
            bits = np.unpackbits(C, axis=1, bitorder="little", count=dim)
            agree = dim - np.bitwise_xor(bits, qb[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "approx": agree.astype(np.float64)}
            )

    return codes.mapInPandas(fn, schema=f"{id_col} long, approx double")


def ann_topk_bq(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int | None = None,
    codes: DataFrame | None = None,
    deleted: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase top-k: 1-bit Hamming scan selects ``rerank`` candidates
    (TakeOrderedAndProject per-partition heaps), exact float rerank orders
    the final k — with the default margin the output is rank-identical to
    ``cosine_topk`` on the test fixtures (same oracle as the exact scan,
    the TestCompressedVectors.java:231 fast-vs-slow idiom at 32× scan-byte
    reduction). ``codes`` accepts the persisted structure
    (``index.vectors.bq_build``); ``deleted`` is the M1 tombstone mask.
    The call runs the scan eagerly and returns a local relation
    (:func:`two_phase_topk`)."""
    if rerank is None:
        rerank = max(BQ_RERANK_FLOOR, BQ_RERANK_FACTOR * k)
    if codes is None:
        codes = bq_encode(embeddings, id_col, vec_col)
    dim = len(query_vec)
    approx = bq_approx_scores(codes, query_vec, dim, id_col)
    return two_phase_topk(
        embeddings, approx, query_vec, k, rerank, deleted, id_col, vec_col
    )


def ann_topk_bq_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int | None = None,
    codes: DataFrame | None = None,
    deleted: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """BATCH serving of the cheapest tier: ONE Hamming scan scores a whole
    TABLE of queries — the batch shape of :func:`ann_topk_bq`, mirroring
    ``ann_topk_sq8_batch`` (the reference serves its compressed tiers
    under the same parallel query stream, ThroughputBenchmark.java:188-236).

    The per-batch kernel unpacks each Arrow batch's codes once and scores
    ALL queries with one agreement GEMM — with 0/1 sign matrices B (batch)
    and Qb (queries), agreeing bits = B·Qbᵀ + (1−B)·(1−Qb)ᵀ, the
    ``Long.bitCount`` XOR loop lifted to a matrix product over the batch
    axis. Per-partition lexsort keeps ``rerank`` candidates per query, the
    shared bounded window + exact gather rerank (``exact_rerank_batch``)
    orders the final k — rank-identical to :func:`cosine_topk_batch` on
    the test fixtures with the default margin. At scale the per-query-batch
    cost is one dim/8-byte-per-vector scan regardless of batch size;
    ``deleted`` tombstones are masked off the codes scan itself (M1)."""
    if rerank is None:
        rerank = max(BQ_RERANK_FLOOR, BQ_RERANK_FACTOR * k)
    if codes is None:
        codes = bq_encode(embeddings, id_col, vec_col)
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
    Qb = (Q > 0).astype(np.float64)
    dim = Q.shape[1]
    n_bytes = (dim + 7) // 8
    rr = int(rerank)

    def approx_fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            buf = b"".join(pdf["codes"])
            C = np.frombuffer(buf, dtype=np.uint8).reshape(len(pdf), n_bytes)
            B = np.unpackbits(C, axis=1, bitorder="little", count=dim).astype(
                np.float64
            )
            agree = B @ Qb.T + (1.0 - B) @ (1.0 - Qb).T
            ids = pdf[id_col].to_numpy()
            parts = []
            for j in range(len(qids)):
                top = np.lexsort((ids, -agree[:, j]))[:rr]
                parts.append(
                    pd.DataFrame(
                        {
                            qid_col: qids[j],
                            id_col: ids[top],
                            "approx": agree[top, j],
                        }
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    partial = codes.mapInPandas(
        approx_fn, schema=f"{qid_col} long, {id_col} long, approx double"
    )
    return exact_rerank_batch(
        embeddings, partial, qids, Qn, k, rr, id_col, vec_col, qid_col
    )
