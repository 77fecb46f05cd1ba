"""Product-quantization tier: deterministic subspace codebooks, m-byte
codes (32× compression at m = dim/8), ADC scoring, and the two-phase
fast-vs-slow equivalence — ``ann_topk_pq`` must be rank-IDENTICAL to the
exact scan at the default rerank margin (the contract's hash-green claim;
reference analog TestProductQuantization.java:56-133 +
TestCompressedVectors.java:231)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


def test_pq_train_deterministic_shapes(embeddings):
    from jvector_spark.operators.pq import pq_train

    a = pq_train(embeddings, seed=99)
    b = pq_train(embeddings, seed=99)
    assert np.array_equal(a, b)
    m, k, dsub = a.shape
    assert m == 8 and dsub == 8  # dim 64, default m = dim/8
    assert k <= 256


def test_pq_codes_are_m_bytes_and_32x(embeddings):
    from jvector_spark.operators.pq import pq_compression_ratio, pq_encode, pq_train

    books = pq_train(embeddings, seed=99)
    m = books.shape[0]
    rows = pq_encode(embeddings, books).collect()
    assert len(rows) == embeddings.count()
    assert all(len(r.codes) == m for r in rows)
    assert pq_compression_ratio(64) == 32.0  # 64 dims × 4 B → 8 B codes


def test_pq_approx_orders_close_to_exact(embeddings):
    """ADC approx scores must rank the true top-10 within the default
    rerank margin — the property that makes the two-phase result exact."""
    from jvector_spark.operators.pq import pq_encode, pq_scores, pq_train
    from jvector_spark.operators.similarity import cosine_topk

    qv = list(embeddings.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    base = embeddings.filter(F.col("vec_id") != 0)
    books = pq_train(base, seed=99)
    codes = pq_encode(base, books).toPandas()
    approx = pq_scores(codes, np.array([qv]), books)[:, 0]
    ids = codes["vec_id"].to_numpy()
    top = set(ids[np.lexsort((ids, -approx))[:256]].tolist())
    want = {r.vec_id for r in cosine_topk(base, qv, k=10).collect()}
    assert want <= top


def test_ann_topk_pq_equals_exact_scan(embeddings):
    """The contract claim: PQ two-phase == exact scan, bit-for-bit ranks
    and (rounded) scores, across several query vectors."""
    from jvector_spark.operators.pq import ann_topk_pq, pq_encode, pq_train
    from jvector_spark.operators.similarity import cosine_topk

    books = pq_train(embeddings, seed=99)
    codes = pq_encode(embeddings, books).cache()
    for qid in (0, 5, 11):
        qv = list(
            embeddings.filter(F.col("vec_id") == qid).select("embedding").first()[0]
        )
        base = embeddings.filter(F.col("vec_id") != qid)
        want = [
            (r.rank, r.vec_id, round(r.cos, 9))
            for r in cosine_topk(base, qv, k=10).collect()
        ]
        got = [
            (r.rank, r.vec_id, round(r.cos, 9))
            for r in ann_topk_pq(
                base,
                qv,
                k=10,
                codes=codes.filter(F.col("vec_id") != qid),
                codebooks=books,
            ).collect()
        ]
        assert got == want, qid
    codes.unpersist()


def test_ann_topk_pq_batch_equals_exact_batch(spark, embeddings):
    """The batch serving shape: ONE codes scan for a query TABLE must be
    rank-identical to the exact batch scan, and the deleted= mask drops
    tombstoned ids before candidate selection."""
    from jvector_spark.operators.pq import ann_topk_pq_batch, pq_encode, pq_train
    from jvector_spark.operators.similarity import cosine_topk_batch

    books = pq_train(embeddings, seed=99)
    codes = pq_encode(embeddings, books).cache()
    qrows = embeddings.orderBy("vec_id").limit(5).collect()
    queries = spark.createDataFrame(
        [(int(r.vec_id), list(r.embedding)) for r in qrows],
        "query_id long, qvec array<float>",
    )
    want = [
        (r.query_id, r.rank, r.vec_id, round(r.cos, 9))
        for r in cosine_topk_batch(embeddings, queries, k=10)
        .orderBy("query_id", "rank")
        .collect()
    ]
    got = [
        (r.query_id, r.rank, r.vec_id, round(r.cos, 9))
        for r in ann_topk_pq_batch(
            embeddings, queries, k=10, codes=codes, codebooks=books
        )
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == want

    # tombstone mask: the self-matches (rank 1 = the query vector itself)
    # vanish and survivors equal the exact scan over live rows
    deleted = spark.createDataFrame(
        [(int(r.vec_id),) for r in qrows], "vec_id long"
    )
    live = embeddings.join(deleted, "vec_id", "left_anti")
    want_m = [
        (r.query_id, r.rank, r.vec_id, round(r.cos, 9))
        for r in cosine_topk_batch(live, queries, k=10)
        .orderBy("query_id", "rank")
        .collect()
    ]
    got_m = [
        (r.query_id, r.rank, r.vec_id, round(r.cos, 9))
        for r in ann_topk_pq_batch(
            embeddings, queries, k=10, codes=codes, codebooks=books,
            deleted=deleted,
        )
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got_m == want_m
    codes.unpersist()


def test_ann_topk_pq_inline_build_matches_exact(embeddings):
    """No pre-built structure passed: train + encode inline (the contract
    entry's shape) still equals the exact scan."""
    from jvector_spark.operators.pq import ann_topk_pq
    from jvector_spark.operators.similarity import cosine_topk

    qv = list(embeddings.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    base = embeddings.filter(F.col("vec_id") != 0)
    want = [(r.rank, r.vec_id) for r in cosine_topk(base, qv, k=10).collect()]
    got = [(r.rank, r.vec_id) for r in ann_topk_pq(base, qv, k=10).collect()]
    assert got == want


def test_pq_rejects_indivisible_subspaces(spark):
    from jvector_spark.operators.pq import pq_train

    emb = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.3])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=2)
