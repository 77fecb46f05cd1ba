"""Persisted compressed-vector structures (``index.vectors``): build /
load / extend / delete / drift / refine for the PQ, SQ8, and BQ tiers,
plus the BQ Hamming operator itself.

Reference analogs: Grid.java:681-719 (pq_cache — train once, reuse),
ProductQuantization.java:159-196 (refine), BinaryQuantization.java:88-110
/ BQVectors.java:95-118 (1-bit tier), TestCompressedVectors.java:231
(fast-vs-slow equivalence), TestProductQuantization.java:216-231
(version0 golden — covered by tests/test_golden.py for the committed
artifact; the version GATE is tested here)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


def _exact_topk(embeddings, qv, k=10):
    from jvector_spark.operators.similarity import cosine_topk

    return [
        (r.rank, r.vec_id, round(r.cos, 9))
        for r in cosine_topk(embeddings, qv, k=k).collect()
    ]


def _qvec(embeddings, vec_id=0):
    return list(
        embeddings.filter(F.col("vec_id") == vec_id).select("embedding").first()[0]
    )


# ---------------------------------------------------------------------------
# PQ structure
# ---------------------------------------------------------------------------


def test_pq_build_load_roundtrip_and_indexed_query(spark, embeddings, tmp_path):
    """Codebooks round-trip bit-for-bit through parquet, and the indexed
    query path (load + codes scan, no retrain) equals the exact scan."""
    from jvector_spark.index.vectors import (
        ann_topk_pq_indexed,
        pq_build,
        pq_load,
        read_manifest,
    )

    d = str(tmp_path / "pq")
    built = pq_build(embeddings, d, seed=99)
    books, codes = pq_load(spark, d)
    assert np.array_equal(books, built)
    assert codes.count() == embeddings.count()
    man = read_manifest(spark, d)
    assert man["kind"] == "pq" and man["dim"] == 64 and man["m"] == 8
    assert man["train_mse"] > 0.0

    qv = _qvec(embeddings)
    base = embeddings.filter(F.col("vec_id") != 0)
    got = [
        (r.rank, r.vec_id, round(r.cos, 9))
        for r in ann_topk_pq_indexed(spark, d, embeddings, qv, k=11).collect()
        if r.vec_id != 0
    ][:10]
    # structure covers the full table; drop the self-match like the oracle
    want = _exact_topk(base, qv)
    assert [(v, c) for _, v, c in got] == [(v, c) for _, v, c in want]


def test_manifest_version_gate(spark, embeddings, tmp_path):
    """A structure written by a FUTURE format version must refuse to load
    (the version0-golden discipline, forward direction)."""
    from jvector_spark.index.vectors import FORMAT_VERSION, bq_build, read_manifest

    d = str(tmp_path / "vg")
    bq_build(embeddings.limit(8), d)
    spark.createDataFrame(
        [(FORMAT_VERSION + 1, "bq", 64, 0, 0, 0, 0.0)],
        "version int, kind string, dim int, m int, k int, dsub int, train_mse double",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "manifest"))
    with pytest.raises(ValueError, match="format version"):
        read_manifest(spark, d)


def test_pq_extend_then_refine_matches_fresh_build(spark, embeddings, tmp_path):
    """C4 for the vector tier: extend encodes under STALE codebooks;
    refine retrains on the current corpus and re-encodes — after refine
    the structure must answer exactly like a fresh build over everything
    (same seed → same k-means → same codebooks → same codes)."""
    from jvector_spark.index.vectors import (
        ann_topk_pq_indexed,
        pq_build,
        pq_extend,
        pq_load,
        pq_refine,
    )

    first = embeddings.filter(F.col("vec_id") < 300)
    rest = embeddings.filter(F.col("vec_id") >= 300)

    d = str(tmp_path / "pq_ext")
    pq_build(first, d, seed=99)
    n = pq_extend(rest, d)
    assert n == rest.count()
    _, codes = pq_load(spark, d)
    assert codes.count() == embeddings.count()

    pq_refine(embeddings, d, seed=99)

    fresh = str(tmp_path / "pq_fresh")
    pq_build(embeddings, fresh, seed=99)

    refined_books, refined_codes = pq_load(spark, d)
    fresh_books, fresh_codes = pq_load(spark, fresh)
    assert np.array_equal(refined_books, fresh_books)
    rc = {r.vec_id: bytes(r.codes) for r in refined_codes.collect()}
    fc = {r.vec_id: bytes(r.codes) for r in fresh_codes.collect()}
    assert rc == fc

    qv = _qvec(embeddings, 7)
    a = ann_topk_pq_indexed(spark, d, embeddings, qv, k=10).collect()
    b = ann_topk_pq_indexed(spark, fresh, embeddings, qv, k=10).collect()
    assert [(r.rank, r.vec_id) for r in a] == [(r.rank, r.vec_id) for r in b]


def test_pq_drift_flags_distribution_shift(spark, embeddings, tmp_path):
    """Drift ratio ≈ 1 on the training distribution; well above 1 once the
    corpus moves — the rebuild-is-due signal."""
    from jvector_spark.index.vectors import pq_build, pq_drift

    d = str(tmp_path / "pq_drift")
    pq_build(embeddings, d, seed=99)
    same = pq_drift(spark, d, embeddings)
    assert 0.5 < same["drift_ratio"] < 1.5

    # shift: negate + offset every vector (breaks the trained cells)
    shifted = embeddings.select(
        "vec_id",
        F.transform("embedding", lambda x: 3.0 - x).alias("embedding"),
    )
    moved = pq_drift(spark, d, shifted)
    assert moved["drift_ratio"] > 1.5
    assert moved["current_mse"] > same["current_mse"]


def test_anisotropic_encode_valid_and_beats_plain_on_adc_rank(spark, embeddings, tmp_path):
    """Anisotropic coordinate-descent codes (eta-weighted parallel error)
    must be valid uint8 codes under the same codebooks, and the ADC
    ordering they induce must rank the true top-10 at least as tightly
    (summed rank) as plain MSE codes on average over queries — the
    accuracy-per-byte claim of ProductQuantization.java:244-424."""
    from jvector_spark.operators.pq import pq_encode, pq_scores, pq_train
    from jvector_spark.operators.similarity import cosine_topk

    books = pq_train(embeddings, seed=99)
    plain = pq_encode(embeddings, books).cache()
    aniso = pq_encode(embeddings, books, anisotropic_eta=4.0).cache()
    m = books.shape[0]
    rows = aniso.collect()
    assert all(len(r.codes) == m for r in rows)
    # encoders must disagree somewhere, else the flag is a no-op
    pc = {r.vec_id: bytes(r.codes) for r in plain.collect()}
    ac = {r.vec_id: bytes(r.codes) for r in rows}
    assert pc != ac

    def rank_sum(codes_df, qv, want):
        pdf = codes_df.toPandas()
        approx = pq_scores(pdf, np.array([qv]), books)[:, 0]
        ids = pdf["vec_id"].to_numpy()
        order = ids[np.lexsort((ids, -approx))].tolist()
        pos = {v: i for i, v in enumerate(order)}
        return sum(pos[v] for v in want)

    tot_plain = tot_aniso = 0
    for qid in (0, 5, 11, 23):
        qv = _qvec(embeddings, qid)
        base = embeddings.filter(F.col("vec_id") != qid)
        want = [r.vec_id for r in cosine_topk(base, qv, k=10).collect()]
        tot_plain += rank_sum(plain, qv, want)
        tot_aniso += rank_sum(aniso, qv, want)
    assert tot_aniso <= tot_plain * 1.10  # at worst ~parity, typically better
    plain.unpersist()
    aniso.unpersist()


# ---------------------------------------------------------------------------
# SQ8 structure
# ---------------------------------------------------------------------------


def test_sq8_build_load_indexed_query_and_extend(spark, embeddings, tmp_path):
    from jvector_spark.index.vectors import (
        ann_topk_sq8_indexed,
        sq8_build,
        sq8_extend,
        sq8_load,
    )

    first = embeddings.filter(F.col("vec_id") < 300)
    rest = embeddings.filter(F.col("vec_id") >= 300)
    d = str(tmp_path / "sq8")
    mn, scale = sq8_build(first, d)
    assert len(mn) == 64 and len(scale) == 64
    (loaded_mn, loaded_scale), codes = sq8_load(spark, d)
    assert np.allclose(loaded_mn, mn) and np.allclose(loaded_scale, scale)
    assert codes.count() == first.count()

    n = sq8_extend(rest, d)
    assert n == rest.count()
    _, codes = sq8_load(spark, d)
    assert codes.count() == embeddings.count()

    qv = _qvec(embeddings, 3)
    base = embeddings.filter(F.col("vec_id") != 3)
    got = [
        (r.vec_id, round(r.cos, 9))
        for r in ann_topk_sq8_indexed(spark, d, embeddings, qv, k=11).collect()
        if r.vec_id != 3
    ][:10]
    want = [(v, c) for _, v, c in _exact_topk(base, qv)]
    assert got == want


# ---------------------------------------------------------------------------
# BQ tier (operator + structure)
# ---------------------------------------------------------------------------


def test_bq_codes_are_dim_over_8_bytes(embeddings):
    from jvector_spark.operators.bq import bq_encode

    rows = bq_encode(embeddings.limit(32)).collect()
    assert all(len(r.codes) == 8 for r in rows)  # dim 64 → 8 B (32× vs f32)


def test_ann_topk_bq_equals_exact_scan(spark, embeddings):
    """BQ two-phase == exact scan at the default rerank margin, across
    several query vectors (the TestCompressedVectors.java:231 idiom at the
    1-bit tier)."""
    from jvector_spark.operators.bq import ann_topk_bq

    for qid in (0, 5, 11):
        qv = _qvec(embeddings, qid)
        base = embeddings.filter(F.col("vec_id") != qid)
        got = [
            (r.rank, r.vec_id, round(r.cos, 9))
            for r in ann_topk_bq(base, qv, k=10).collect()
        ]
        assert got == _exact_topk(base, qv)


def test_bq_build_load_extend_indexed(spark, embeddings, tmp_path):
    from jvector_spark.index.vectors import (
        ann_topk_bq_indexed,
        bq_build,
        bq_extend,
        bq_load,
    )

    first = embeddings.filter(F.col("vec_id") < 300)
    rest = embeddings.filter(F.col("vec_id") >= 300)
    d = str(tmp_path / "bq")
    n = bq_build(first, d)
    assert n == first.count()
    dim, codes = bq_load(spark, d)
    assert dim == 64
    assert bq_extend(rest, d) == rest.count()
    _, codes = bq_load(spark, d)
    assert codes.count() == embeddings.count()

    qv = _qvec(embeddings, 3)
    base = embeddings.filter(F.col("vec_id") != 3)
    got = [
        (r.vec_id, round(r.cos, 9))
        for r in ann_topk_bq_indexed(spark, d, embeddings, qv, k=11).collect()
        if r.vec_id != 3
    ][:10]
    want = [(v, c) for _, v, c in _exact_topk(base, qv)]
    assert got == want


# ---------------------------------------------------------------------------
# M1 delete parity across all persisted tiers
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("tier", ["pq", "sq8", "bq", "nvq", "ivf"])
def test_vector_delete_survivors_equal_exact_live_scan(spark, embeddings, tmp_path, tier):
    """After a tombstone delete, every persisted ANN tier must answer
    exactly the exact scan over LIVE rows — tombstoned ids neither surface
    nor consume rerank budget (M1 parity across sq8/pq/bq/nvq/ivf; IVF
    runs at full probe so its candidate set is the whole live corpus)."""
    from jvector_spark.index import vectors as V

    if tier == "ivf":
        build = lambda emb, d: V.ivf_build(emb, d, n_clusters=8, n_iters=4, seed=77)
        query = lambda sp, d, emb, qv, k: V.ivf_topk_indexed(
            sp, d, emb, qv, k=k, n_probe=8
        )
        delete = V.ivf_delete
    else:
        build = {
            "pq": V.pq_build, "sq8": V.sq8_build,
            "bq": V.bq_build, "nvq": V.nvq_build,
        }[tier]
        query = {
            "pq": V.ann_topk_pq_indexed,
            "sq8": V.ann_topk_sq8_indexed,
            "bq": V.ann_topk_bq_indexed,
            "nvq": V.ann_topk_nvq_indexed,
        }[tier]
        delete = V.vector_delete

    d = str(tmp_path / f"del_{tier}")
    build(embeddings, d)
    qv = _qvec(embeddings, 0)
    # delete the query vector and the exact-scan top-3 — the new answer
    # must be the exact scan over the survivors
    top = [r.vec_id for r in query(spark, d, embeddings, qv, 4).collect()]
    dead = set(top[:3]) | {0}
    delete(spark, d, dead)

    live = embeddings.filter(~F.col("vec_id").isin(list(dead)))
    got = [
        (r.rank, r.vec_id, round(r.cos, 9))
        for r in query(spark, d, embeddings, qv, 10).collect()
    ]
    assert got == _exact_topk(live, qv)
    for vid in dead:
        assert vid not in {v for _, v, _ in got}


def test_lsh_delete_mask_equals_prefiltered_corpus(spark, embeddings):
    """The LSH tier's M1 contract: masking tombstones at query time must
    equal running the same (approximate) search over a pre-filtered live
    corpus — deleted ids never surface and never displace live candidates.
    (Exact-scan parity is not the right oracle for an approximate tier;
    mask ≡ pre-filter is, and it completes the sq8/pq/bq/ivf/lsh delete
    matrix.)"""
    from jvector_spark.operators.similarity import cosine_topk_lsh

    qv = _qvec(embeddings, 0)
    base = embeddings.filter(F.col("vec_id") != 0)
    top = [r.vec_id for r in cosine_topk_lsh(base, qv, k=3).collect()]
    deleted = spark.createDataFrame([(int(v),) for v in top], "vec_id long")

    got = [
        (r.rank, r.vec_id, round(r.cos, 9))
        for r in cosine_topk_lsh(base, qv, k=10, deleted=deleted).collect()
    ]
    live = base.filter(~F.col("vec_id").isin([int(v) for v in top]))
    want = [
        (r.rank, r.vec_id, round(r.cos, 9))
        for r in cosine_topk_lsh(live, qv, k=10).collect()
    ]
    assert got == want
    assert not {v for _, v, _ in got} & set(top)


def test_sq8_drift_flags_clipping_and_refine_clears_it(spark, embeddings, tmp_path):
    """SQ8 drift metric (r4 verdict #7): a fresh build measures zero clip
    fraction by construction; extend-with-shifted-data flags the silent
    clipping ``sq8_extend`` performs; refine (rebuild over the current
    corpus) clears it."""
    from jvector_spark.index.vectors import sq8_build, sq8_drift, sq8_extend

    d = str(tmp_path / "sq8_drift")
    sq8_build(embeddings, d)
    fresh = sq8_drift(spark, d, embeddings)
    assert fresh["clip_fraction"] == 0.0
    assert fresh["max_overshoot_codes"] == 0.0
    assert fresh["n_sampled"] > 0

    # distribution shift: scale + offset pushes values past the trained
    # per-dim [min, max] — exactly what sq8_extend would clamp silently
    shifted = embeddings.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0 + 1.0).alias("embedding"),
    )
    sq8_extend(shifted, d)
    moved = sq8_drift(spark, d, shifted)
    assert moved["clip_fraction"] > 0.05
    assert moved["max_overshoot_codes"] > 1.0

    # refine = rebuild over the CURRENT corpus: params re-cover the range
    sq8_build(embeddings.select("vec_id", "embedding").union(shifted), d)
    cleared = sq8_drift(spark, d, shifted)
    assert cleared["clip_fraction"] == 0.0
