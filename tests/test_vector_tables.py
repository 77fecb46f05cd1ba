"""The persisted vector tiers follow the driver-sized-tables rule: the
pyarrow metadata readers must return exactly what a Spark read returns,
every tier must serve a single query inside a two-job budget, and the one
exact-cosine kernel must agree with a plain numpy oracle (Spark-free)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from test_local_tables import _jobs, _typed
from test_vectors import embeddings  # noqa: F401  (module-scoped fixture)

TIERS = ("sq8", "pq", "bq", "nvq")


# ---------------------------------------------------------------------------
# exact-cosine kernel (no Spark)
# ---------------------------------------------------------------------------


def _cos_oracle(X: np.ndarray, q: np.ndarray) -> np.ndarray:
    out = []
    for x in X:
        den = np.sqrt(sum(float(v) * float(v) for v in x)) * np.sqrt(
            sum(float(v) * float(v) for v in q)
        )
        out.append(sum(float(a) * float(b) for a, b in zip(x, q)) / den if den else 0.0)
    return np.array(out)


def test_cosine_kernel_matches_numpy_oracle():
    from jvector_spark.operators.similarity import cosine_kernel

    rng = np.random.default_rng(11)
    for dim in (1, 7, 64):
        X = rng.standard_normal((300, dim))
        X[5] = 0.0  # zero-norm row
        X[17] = X[3]  # tied scores: a copy and exact power-of-two rescales
        X[18] = 2.0 * X[3]
        X[19] = 0.25 * X[3]
        q = rng.standard_normal(dim)
        got = cosine_kernel(X, q)
        assert np.allclose(got, _cos_oracle(X, q), rtol=0, atol=1e-12)
        assert got[5] == 0.0
        assert got[17] == got[18] == got[19] == got[3]
        assert np.array_equal(cosine_kernel(X, np.zeros(dim)), np.zeros(len(X)))
        # a row's score does not depend on the rows sharing its batch: the
        # Spark scan and the driver rerank see different row sets
        for size in (1, 2, 9, 150):
            idx = np.sort(rng.choice(len(X), size=size, replace=False))
            assert np.array_equal(cosine_kernel(X[idx], q), got[idx])


# ---------------------------------------------------------------------------
# persisted tiers against Spark reads
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tier_dirs(tmp_path_factory, embeddings):
    from jvector_spark.index import vectors as V

    builds = {"sq8": V.sq8_build, "pq": V.pq_build, "bq": V.bq_build, "nvq": V.nvq_build}
    dirs = {}
    for tier, build in builds.items():
        dirs[tier] = str(tmp_path_factory.mktemp(tier))
        build(embeddings, dirs[tier])
    return dirs


def _spark_table(spark, index_dir: str, name: str):
    return spark.read.parquet(os.path.join(index_dir, name))


@pytest.mark.parametrize("tier", TIERS)
def test_metadata_readers_match_spark(spark, tier_dirs, tier):
    from jvector_spark.index import vectors as V

    d = tier_dirs[tier]
    man = V.read_manifest(spark, d)
    want = _spark_table(spark, d, "manifest").collect()[0].asDict()
    assert _typed(man) == _typed(want) and list(man) == list(want)
    assert man["kind"] == tier

    codes = V.read_codes(spark, d)
    inferred = _spark_table(spark, d, "codes")
    assert codes.schema == inferred.schema
    assert sorted(codes.collect()) == sorted(inferred.collect())

    if tier == "sq8":
        mn, scale = V.sq8_read_params(spark, d)
        rows = _spark_table(spark, d, "params").orderBy("i").collect()
        assert np.array_equal(mn, [r.mn for r in rows])
        assert np.array_equal(scale, [r.scale for r in rows])
    if tier == "pq":
        books = V.pq_read_codebooks(spark, d)
        rows = _spark_table(spark, d, "codebooks").orderBy("subspace", "cluster").collect()
        want_books = np.array([list(r.centroid) for r in rows], dtype=np.float64)
        assert books.shape == (man["m"], man["k"], man["dsub"])
        assert np.array_equal(books, want_books.reshape(books.shape))


def test_missing_manifest_raises(spark, tmp_path):
    from jvector_spark.index.vectors import read_manifest

    with pytest.raises(FileNotFoundError, match="manifest"):
        read_manifest(spark, str(tmp_path))


def test_vector_tombstones_match_spark_distinct(spark, tmp_path):
    from jvector_spark.index.vectors import vector_delete, vector_tombstones

    d = str(tmp_path)
    assert vector_tombstones(spark, d) is None  # absent
    os.makedirs(os.path.join(d, "tombstones"))
    open(os.path.join(d, "tombstones", "_SUCCESS"), "w").close()
    assert vector_tombstones(spark, d) is None  # no data file

    # a pyarrow append on the driver, no Spark job
    _, jobs = _jobs(spark, lambda: vector_delete(spark, d, [5, 3, 3, 9], id_col="vid"))
    assert jobs == 0
    vector_delete(spark, d, iter([9, 11]), id_col="vid")
    vector_delete(spark, d, [], id_col="vid")
    dead, jobs = _jobs(spark, lambda: vector_tombstones(spark, d))
    assert jobs == 0
    want = _spark_table(spark, d, "tombstones").distinct().orderBy("vid").collect()
    assert dead.columns == ["vid"]
    assert dead.collect() == want
    assert [r.vid for r in want] == [3, 5, 9, 11]


# ---------------------------------------------------------------------------
# serve-path job budgets
# ---------------------------------------------------------------------------


def test_read_manifest_runs_no_job(spark, tier_dirs):
    from jvector_spark.index.vectors import read_manifest

    for tier in TIERS:
        _, jobs = _jobs(spark, lambda: read_manifest(spark, tier_dirs[tier]))
        assert jobs == 0, tier


@pytest.mark.parametrize("tier", TIERS)
def test_indexed_tier_serves_in_two_jobs(spark, embeddings, tier_dirs, tmp_path, tier):
    import shutil

    from jvector_spark.index import vectors as V
    from jvector_spark.operators.similarity import cosine_topk

    serve = getattr(V, f"ann_topk_{tier}_indexed")
    d = str(tmp_path / tier)
    shutil.copytree(tier_dirs[tier], d)
    qv = list(embeddings.filter(F.col("vec_id") == 4).select("embedding").first()[0])

    def exact(dead):
        live = embeddings.filter(~F.col("vec_id").isin(sorted(dead)))
        return [tuple(r) for r in cosine_topk(live, qv, k=10).collect()]

    dead: set[int] = set()
    for _ in range(3):
        rows, jobs = _jobs(spark, lambda: serve(spark, d, embeddings, qv, k=10).collect())
        assert jobs <= 2, f"{tier} call with {len(dead)} tombstones ran {jobs} jobs"
        # same exact kernel on both sides: scores equal bit for bit
        assert [tuple(r) for r in rows] == exact(dead)
        # tombstone the current top two (one id twice): the next answer
        # must be the exact scan over the survivors
        top = [rows[0].vec_id, rows[1].vec_id, rows[0].vec_id]
        V.vector_delete(spark, d, top)
        dead |= set(top)


def test_all_tombstoned_tier_returns_no_rows(spark, embeddings, tier_dirs):
    from jvector_spark.index.vectors import bq_load
    from jvector_spark.operators.bq import ann_topk_bq

    _, codes = bq_load(spark, tier_dirs["bq"])
    qv = list(embeddings.select("embedding").first()[0])
    out = ann_topk_bq(embeddings, qv, k=10, codes=codes, deleted=embeddings)
    assert out.columns == ["rank", "vec_id", "cos"]
    assert out.collect() == []
