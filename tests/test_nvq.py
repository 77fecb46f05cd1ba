"""NVQ tier (``operators.nvq`` + ``index.vectors`` nvq_*): per-vector
nonuniform 8/4-bit quantization — the reference's compressed RERANK tier.

Reference analogs: NVQuantization.java:487-638 (per-subvector min/max +
learned logistic warp, 8/4 bits), DefaultVectorUtilSupport.java:487-502
(quantize kernel), NVQScorer.java / NVQVectors.java (candidates scored
off the codes — raw floats never read in the rerank),
TestCompressedVectors.java:231 (fast-vs-slow equivalence idiom)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


def _qvec(embeddings, vec_id=0):
    return list(
        embeddings.filter(F.col("vec_id") == vec_id).select("embedding").first()[0]
    )


def _exact_topk(embeddings, qv, k=10):
    from jvector_spark.operators.similarity import cosine_topk

    return [
        (r.rank, r.vec_id, round(r.cos, 9))
        for r in cosine_topk(embeddings, qv, k=k).collect()
    ]


def test_nvq_learned_warp_never_loses_to_uniform_and_reconstructs(spark, embeddings):
    """Per-vector grid fit (α = 0 in the grid) ⇒ learned reconstruction
    MSE ≤ uniform for EVERY vector, and the warp genuinely engages (some
    rows pick α > 0). Max per-component error stays inside a small
    fraction of the vector's own range — the high-fidelity contract that
    lets NVQ replace raw floats in the rerank."""
    from jvector_spark.operators.nvq import (
        _unwarp, _warp, nvq_encode, nvq_reconstruct_batch,
    )

    sample = embeddings.filter(F.col("vec_id") < 200)
    pdf = nvq_encode(sample, bits=8).toPandas().sort_values("vec_id")
    raw = (
        sample.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    )
    X = np.stack(raw["embedding"].to_numpy()).astype(np.float64)
    R = nvq_reconstruct_batch(pdf, X.shape[1], bits=8)

    dl = pdf["dl"].to_numpy()
    rel_err = np.abs(R - X) / dl[:, None]
    assert rel_err.max() < 0.02  # 8-bit per-vector: ≲2% of own range

    # learned ≤ uniform per row (recompute the uniform baseline)
    mn = pdf["mn"].to_numpy()
    u = (X - mn[:, None]) / dl[:, None]
    c0 = np.round(_warp(u, 0.0) * 255.0)
    ru0 = _unwarp(c0 / 255.0, np.zeros(len(u)))
    mse_uniform = ((ru0 - u) ** 2).mean(axis=1)
    mse_learned = (((R - X) / dl[:, None]) ** 2).mean(axis=1)
    assert (mse_learned <= mse_uniform + 1e-15).all()
    assert (pdf["alpha"].to_numpy() > 0).any()  # the warp actually engages


def test_nvq_4bit_packs_two_codes_per_byte(spark, embeddings):
    from jvector_spark.operators.nvq import nvq_encode, nvq_reconstruct_batch

    sample = embeddings.filter(F.col("vec_id") < 50)
    pdf8 = nvq_encode(sample, bits=8).toPandas().sort_values("vec_id")
    pdf4 = nvq_encode(sample, bits=4).toPandas().sort_values("vec_id")
    dim = 64
    assert all(len(b) == dim for b in pdf8["codes"])
    assert all(len(b) == dim // 2 for b in pdf4["codes"])

    raw = sample.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack(raw["embedding"].to_numpy()).astype(np.float64)
    R4 = nvq_reconstruct_batch(pdf4, dim, bits=4)
    rel_err = np.abs(R4 - X) / pdf4["dl"].to_numpy()[:, None]
    assert rel_err.max() < 0.2  # 15 levels: coarse but bounded


def test_ann_topk_nvq_equals_exact_scan(spark, embeddings):
    """Two-phase NVQ + exact rerank ≡ exact scan (the contract-row
    equivalence, TestCompressedVectors.java:231)."""
    from jvector_spark.operators.nvq import ann_topk_nvq

    qv = _qvec(embeddings, 0)
    base = embeddings.filter(F.col("vec_id") != 0)
    got = [
        (r.rank, r.vec_id, round(r.cos, 9))
        for r in ann_topk_nvq(base, qv, k=10).collect()
    ]
    assert got == _exact_topk(base, qv)


@pytest.mark.parametrize("tier", ["sq8", "pq", "bq", "nvq"])
def test_nvq_batch_equals_per_query(spark, embeddings, tmp_path, tier):
    """One codes scan serving five queries ≡ five single-query runs, for
    every tier, on a tombstoned index: the batch and the single query run
    the same two-phase path with the same kernel, so the answers agree in
    every bit."""
    from jvector_spark.index import vectors as V
    from jvector_spark.operators.bq import ann_topk_bq, ann_topk_bq_batch
    from jvector_spark.operators.nvq import ann_topk_nvq, ann_topk_nvq_batch
    from jvector_spark.operators.pq import ann_topk_pq, ann_topk_pq_batch
    from jvector_spark.operators.similarity import ann_topk_sq8, ann_topk_sq8_batch

    d = str(tmp_path / tier)
    getattr(V, f"{tier}_build")(embeddings, d)
    dead = [5, 6, 17, 40]
    V.vector_delete(spark, d, dead)
    params, codes = getattr(V, f"{tier}_load")(spark, d)
    single, batch, extra = {
        "sq8": (ann_topk_sq8, ann_topk_sq8_batch, dict(params=params)),
        "pq": (ann_topk_pq, ann_topk_pq_batch, dict(codebooks=params)),
        "bq": (ann_topk_bq, ann_topk_bq_batch, {}),
        "nvq": (ann_topk_nvq, ann_topk_nvq_batch, dict(bits=params)),
    }[tier]
    deleted = V.vector_tombstones(spark, d)
    qs = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = {
        (r.query_id, r.rank): (r.vec_id, r.cos)
        for r in batch(embeddings, qs, k=5, codes=codes, deleted=deleted, **extra).collect()
    }
    assert len(got) == 25
    for qid in range(5):
        qv = _qvec(embeddings, qid)
        want = single(embeddings, qv, k=5, codes=codes, deleted=deleted, **extra).collect()
        for r in want:
            assert got[(qid, r.rank)] == (r.vec_id, r.cos)
            assert r.vec_id not in dead


def test_nvq_build_load_extend_equals_fresh_build(spark, embeddings, tmp_path):
    """B10 for NVQ — and stronger than PQ/SQ8's version: parameters are
    per-vector, so extend is BYTE-IDENTICAL to a fresh build of the union
    (nothing shared to go stale), and the manifest round-trips bits."""
    from jvector_spark.index.vectors import (
        ann_topk_nvq_indexed, nvq_build, nvq_extend, nvq_load, read_manifest,
    )

    first = embeddings.filter(F.col("vec_id") < 300)
    rest = embeddings.filter(F.col("vec_id") >= 300)

    d = str(tmp_path / "nvq_ext")
    n0 = nvq_build(first, d, bits=8)
    assert n0 == first.count()
    man = read_manifest(spark, d)
    assert man["kind"] == "nvq" and man["dim"] == 64 and man["m"] == 8
    n1 = nvq_extend(rest, d)
    assert n1 == rest.count()

    fresh = str(tmp_path / "nvq_fresh")
    nvq_build(embeddings, fresh, bits=8)

    _, ext_codes = nvq_load(spark, d)
    _, fresh_codes = nvq_load(spark, fresh)
    ec = {r.vec_id: (bytes(r.codes), r.mn, r.dl, r.alpha) for r in ext_codes.collect()}
    fc = {r.vec_id: (bytes(r.codes), r.mn, r.dl, r.alpha) for r in fresh_codes.collect()}
    assert ec == fc

    qv = _qvec(embeddings, 7)
    a = ann_topk_nvq_indexed(spark, d, embeddings, qv, k=10).collect()
    b = ann_topk_nvq_indexed(spark, fresh, embeddings, qv, k=10).collect()
    assert [(r.rank, r.vec_id) for r in a] == [(r.rank, r.vec_id) for r in b]


def test_pq_nvq_compressed_only_pipeline_recall(spark, embeddings, tmp_path):
    """The reference's serving composition: PQ ADC first pass + NVQ
    rerank, raw floats never read. Recall@10 vs the exact scan must clear
    0.9 on the fixture, and the NVQ rerank must not lose to serving the
    ADC ordering directly (it re-scores the candidate pool at near-full
    precision)."""
    from jvector_spark.index.vectors import (
        ann_topk_pq_nvq_indexed, nvq_build, pq_build, pq_load,
    )
    from jvector_spark.operators.pq import pq_scores

    base = embeddings.filter(F.col("vec_id") != 0)
    pq_dir = str(tmp_path / "pq")
    nvq_dir = str(tmp_path / "nvq")
    pq_build(base, pq_dir, seed=99)
    nvq_build(base, nvq_dir)

    qv = _qvec(embeddings, 0)
    want = {v for _, v, _ in _exact_topk(base, qv, k=10)}

    got_rows = ann_topk_pq_nvq_indexed(spark, pq_dir, nvq_dir, qv, k=10).collect()
    got = {r.vec_id for r in got_rows}
    recall = len(got & want) / 10
    assert recall >= 0.9

    books, codes = pq_load(spark, pq_dir)
    pdf = codes.toPandas()
    approx = pq_scores(pdf, np.array([qv]), books)[:, 0]
    ids = pdf["vec_id"].to_numpy()
    adc_only = set(ids[np.lexsort((ids, -approx))[:10]].tolist())
    assert recall >= len(adc_only & want) / 10

    # ranks are ordered by the NVQ cosine, descending, ties by id
    scores = [(r.rank, r.cos, r.vec_id) for r in got_rows]
    assert scores == sorted(scores, key=lambda t: (-t[1], t[2]))
    assert [r[0] for r in scores] == list(range(1, len(scores) + 1))
