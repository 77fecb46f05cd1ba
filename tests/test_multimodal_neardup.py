"""Multimodal binary-column plumbing + embedding near-dup operators.

The multimodal decode is stubbed (no codec libs in the container) but the
Spark-side contract — schemas, Arrow batching, partition parallelism,
deterministic fake features — is exercised for real (the same way the
reference tests format plumbing separately from SIMD kernels,
TestOnDiskGraphIndex.java:77-464).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def media(spark):
    """Synthetic media table: deterministic binary payloads with real magic
    bytes, one NULL-ish empty payload."""
    rows = []
    rng = np.random.default_rng(5)
    magics = [b"\xff\xd8\xff", b"\x89PNG", b"GIF8", b"RIFF", b"ID3", b""]
    for i in range(64):
        magic = magics[i % len(magics)]
        body = rng.integers(0, 256, size=int(rng.integers(10, 5000))).astype(np.uint8)
        rows.append((i, magic + body.tobytes()))
    return spark.createDataFrame(rows, "doc_id long, payload binary").cache()


def test_media_meta_schema_and_sniff(spark, media):
    from jvector_spark.operators.multimodal import media_meta

    m = media_meta(media)
    assert [f.name for f in m.schema.fields] == ["doc_id", "n_bytes", "content_md5", "format"]
    got = {r.doc_id: r for r in m.collect()}
    assert len(got) == 64
    assert got[0]["format"] == "jpeg"
    assert got[1]["format"] == "png"
    assert got[2]["format"] == "gif"
    assert got[3]["format"] == "riff"
    assert got[4]["format"] == "mp3"
    assert all(r.n_bytes >= 0 for r in got.values())


def test_decode_features_deterministic_and_batched(spark, media):
    from jvector_spark.operators.multimodal import FEATURE_DIM, decode_image_features

    f1 = decode_image_features(media, batch_rows=7).orderBy("doc_id").collect()
    f2 = decode_image_features(media.repartition(8), batch_rows=64).orderBy("doc_id").collect()
    assert len(f1) == 64
    for a, b in zip(f1, f2):
        assert a.doc_id == b.doc_id
        assert len(a.features) == FEATURE_DIM
        assert a.features == b.features  # partitioning/batching-invariant


def test_decode_real_path_raises(spark, media):
    from jvector_spark.operators.multimodal import decode_image_features

    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        decode_image_features(media, fake=False).collect()


def test_frame_sample_shapes(spark, media):
    from jvector_spark.operators.multimodal import frame_sample

    fs = frame_sample(media, every_n_bytes=512)
    pdf = fs.toPandas()
    sizes = {r.doc_id: r.n_bytes for r in
             media.select("doc_id", F.length("payload").alias("n_bytes")).collect()}
    counts = pdf.groupby("doc_id").size().to_dict()
    for d, n in sizes.items():
        assert counts.get(d, 0) == max(1, -(-n // 512)) if n > 0 else True
    # frames concatenate back to the original payload
    one = pdf[pdf.doc_id == 3].sort_values("frame_idx")
    orig = media.filter("doc_id = 3").collect()[0].payload
    assert b"".join(bytes(x) for x in one.frame_bytes) == bytes(orig)


# ---------------------------------------------------------------------------
# embedding near-dups
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    """128 random unit-ish vectors + 8 planted near-duplicates (tiny noise
    added to existing rows)."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((128, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(128)]
    for j in range(8):
        noisy = base[j] + rng.standard_normal(16).astype(np.float32) * 0.01
        rows.append((1000 + j, [float(x) for x in noisy]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_embedding_near_dups_exact_finds_planted(spark, vectors):
    from jvector_spark.operators.similarity import embedding_near_dups

    pairs = {(r.a, r.b): r.cos for r in embedding_near_dups(vectors, 0.99).collect()}
    for j in range(8):
        assert (j, 1000 + j) in pairs
        assert pairs[(j, 1000 + j)] > 0.99
    # random 16-d vectors essentially never hit cos >= 0.99
    assert len(pairs) <= 8 + 2


def test_embedding_near_dups_lsh_subset_and_recall(spark, vectors):
    from jvector_spark.operators.similarity import (
        embedding_near_dups,
        embedding_near_dups_lsh,
    )

    exact = {(r.a, r.b) for r in embedding_near_dups(vectors, 0.99).collect()}
    got = {(r.a, r.b) for r in embedding_near_dups_lsh(vectors, 0.99).collect()}
    assert got <= exact  # verify step never invents pairs
    # OR-amplified banding: near-identical vectors collide in ≥1 of the 16
    # bands in all but vanishing splits (round 1's single AND-band floor
    # was 0.7; the multi-band construction is test-floored at 0.9)
    assert len(got) >= 0.9 * len(exact)


def test_cosine_topk_no_global_window_plan(spark, vectors, monkeypatch):
    """Above the ingest rule (forced here), the exact top-k must compile
    to TakeOrderedAndProject, not a single-partition global Window sort
    (SURVEY.md P-scale audit)."""
    from test_local_tables import _force

    from jvector_spark.operators.similarity import cosine_topk

    _force(monkeypatch, "spark")

    qv = [float(x) for x in np.arange(16)]
    plan = cosine_topk(vectors, qv, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
