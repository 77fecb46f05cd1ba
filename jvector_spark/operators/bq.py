"""Binary Quantization (BQ) — the reference's cheapest memory tier: 1 bit
per dimension (32× fewer scan bytes than float32), Hamming-distance first
pass, exact float rerank.

Reference analog: ``BinaryQuantization.java:88-110`` encodes each
dimension's sign into a packed long array and ``BQVectors.java:95-118``
scores with ``Long.bitCount`` over the XOR — similarity is the number of
agreeing sign bits. For unit vectors the agreement fraction estimates
1 − θ/π (the SimHash identity), so Hamming order approximates cosine
order and the exact rerank restores it.

Spark-first shape — the ``BQ`` tier record on the shared two-phase path
(``similarity.ann_topk_tier``): codes persist once
(``index.vectors.bq_build``), each query scans dim/8 bytes per vector
(vectorized ``np.unpackbits`` XOR popcount per Arrow batch), the top
``rerank`` candidates per query go to the exact rerank. The codes are
``np.packbits`` over the sign bits, little-bit-first (checked against a
Python oracle in ``tests/test_vector_tables.py``).

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
)


def bq_scores(codes: pd.DataFrame, Q: np.ndarray, params=None) -> np.ndarray:
    """approx = number of AGREEING sign bits (dim − Hamming): whole-batch
    unpackbits + XOR popcount, the BQVectors.java:95-118 ``Long.bitCount``
    loop vectorized over the Arrow batch. BQ has no parameters; the
    dimension is the queries'."""
    dim = Q.shape[1]
    bits = np.unpackbits(
        code_matrix(codes, (dim + 7) // 8), axis=1, bitorder="little", count=dim
    )
    return per_query(Q, lambda q: (
        dim - np.bitwise_xor(bits, (q > 0).astype(np.uint8)[None, :]).sum(axis=1)
    ).astype(np.float64))


def _bq_encode(X: np.ndarray, params=None) -> dict:
    # one sign bit per dimension, packed little-bit-first: the codebook of
    # BQ is the sign function (BinaryQuantization.java:88-110)
    return {"codes": binary_rows(
        np.packbits((X > 0).astype(np.uint8), axis=1, bitorder="little")
    )}


def _bq_fit(embeddings: DataFrame | VectorRows, id_col: str, vec_col: str):
    dim = first_dim(embeddings, vec_col)
    return dim, {"dim": dim}


# default depth max(512, 16·k): the margin the module docstring measures
BQ = Tier(
    "bq", _bq_fit, _bq_encode, bq_scores, floor=512, factor=16,
    read_params=lambda index_dir, manifest: int(manifest["dim"]),
)


def bq_encode(embeddings: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes binary) — one sign bit per dimension, packed
    little-bit-first (``np.packbits``): dim/8 bytes per vector,
    32× smaller than float32. No training phase."""
    return encode_codes(BQ, embeddings, None, id_col, vec_col)


def ann_topk_bq(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                rerank: int | None = None, codes: DataFrame | None = None,
                deleted: DataFrame | None = None, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """(rank, id, cos): BQ two-phase top-k — with the default margin the
    output is rank-identical to ``cosine_topk`` on the test fixtures (the
    TestCompressedVectors.java:231 fast-vs-slow idiom at 32× scan-byte
    reduction). ``codes`` accepts the persisted structure
    (``index.vectors.bq_build``); ``deleted`` is the M1 tombstone mask."""
    return ann_topk_tier(
        BQ, embeddings, query_vec, k, rerank, codes, None,
        deleted_ids(deleted, id_col), id_col, vec_col,
    )


def ann_topk_bq_batch(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                      rerank: int | None = None, codes: DataFrame | None = None,
                      deleted: DataFrame | None = None, id_col: str = "vec_id",
                      vec_col: str = "embedding", qid_col: str = "query_id",
                      qvec_col: str = "qvec") -> DataFrame:
    """(query_id, rank, id, cos): BATCH serving of the cheapest tier — ONE
    Hamming scan scores a whole table of queries (the reference serves its
    compressed tiers under the same parallel query stream,
    ThroughputBenchmark.java:188-236)."""
    return ann_topk_tier(
        BQ, embeddings, queries, k, rerank, codes, None,
        deleted_ids(deleted, id_col), id_col, vec_col, qid_col, qvec_col,
    )
