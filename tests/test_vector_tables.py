"""The persisted vector tiers follow the driver-sized-tables rule: the
pyarrow metadata readers must return exactly what a Spark read returns,
every tier serves a single query in one Spark job when its codes are
under the driver cap (two over it), the driver and Spark first passes
return the same bits, and the one exact-cosine kernel must agree with a
plain numpy oracle (Spark-free)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
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


def test_cosine_kernel_is_silent_on_nan_and_infinite_rows():
    """A NaN row (or query) has no positive norm and scores 0, an infinite
    row scores NaN, and neither raises a numpy warning: in a Spark task
    one would reach the executor's stderr once per batch."""
    import warnings

    from jvector_spark.operators.similarity import cosine_kernel

    X = np.array([[1.0, 2.0], [np.nan, 1.0], [np.inf, 1.0], [-np.inf, np.inf], [0.0, 0.0]])
    q = np.array([1.0, 1.0])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = cosine_kernel(X, q)
        nan_q = cosine_kernel(X, np.array([np.nan, 1.0]))
    assert got[0] == cosine_kernel(X[:1], q)[0] > 0
    assert got[1] == got[4] == 0.0
    assert np.isnan(got[2]) and np.isnan(got[3])
    assert np.array_equal(nan_q, np.zeros(len(X)))


# ---------------------------------------------------------------------------
# approximate-score kernels (no Spark): each against a plain-Python oracle,
# and column j of a multi-query call bit-equal to a one-query call on Q[j]
# ---------------------------------------------------------------------------


def _cos(x, q) -> float:
    nx = sum(float(v) * float(v) for v in x) ** 0.5
    nq = sum(float(v) * float(v) for v in q) ** 0.5
    return sum(float(a) * float(b) for a, b in zip(x, q)) / (nx * nq) if nx and nq else 0.0


def _queries(rng, dim: int) -> np.ndarray:
    Q = rng.standard_normal((4, dim))
    Q[2] = 0.0  # zero query
    return Q


def _check_kernel(kernel, codes, Q, params, oracle):
    S = kernel(codes, Q, params)
    assert S.shape == (len(codes), len(Q))
    for j, q in enumerate(Q):
        # the single-query and batch paths share the kernel: a column must
        # not depend on the other queries of the call
        assert np.array_equal(S[:, j], kernel(codes, Q[j:j + 1], params)[:, 0])
        want = np.array([oracle(i, q) for i in range(len(codes))])
        assert np.allclose(S[:, j], want, rtol=0, atol=1e-12), j
    return S


def test_sq8_scores_match_python_oracle():
    from jvector_spark.operators.similarity import sq8_scores

    rng = np.random.default_rng(21)
    dim, n = 7, 60
    scale = rng.uniform(0.001, 0.02, dim)
    mn = -3.0 * scale
    C = rng.integers(0, 256, size=(n, dim), dtype=np.uint8)
    C[4] = 3  # decodes to the zero vector
    codes = pd.DataFrame({"codes": [C[i].tobytes() for i in range(n)]})

    def oracle(i, q):
        return _cos([int(C[i, d]) * scale[d] + mn[d] for d in range(dim)], q)

    S = _check_kernel(sq8_scores, codes, _queries(rng, dim), (mn, scale), oracle)
    assert not S[4].any() and not S[:, 2].any()


def test_pq_scores_match_python_oracle():
    from jvector_spark.operators.pq import pq_scores

    rng = np.random.default_rng(22)
    m, k, dsub, n = 3, 5, 4, 50
    books = rng.standard_normal((m, k, dsub))
    books[:, 0] = 0.0  # code 0 is the zero centroid in every subspace
    C = rng.integers(0, k, size=(n, m), dtype=np.uint8)
    C[7] = 0  # a zero-norm reconstruction
    codes = pd.DataFrame({"codes": [C[i].tobytes() for i in range(n)]})

    def oracle(i, q):
        nq = sum(float(v) * float(v) for v in q) ** 0.5
        qn = [float(v) / nq for v in q] if nq else [0.0] * len(q)
        return sum(
            float(books[s, C[i, s], d]) * qn[s * dsub + d]
            for s in range(m) for d in range(dsub)
        )

    S = _check_kernel(pq_scores, codes, _queries(rng, m * dsub), books, oracle)
    assert not S[7].any() and not S[:, 2].any()


def test_bq_scores_match_python_oracle():
    from jvector_spark.operators.bq import BQ, bq_scores

    rng = np.random.default_rng(23)
    dim, n = 13, 40  # not a multiple of 8: the last byte is partial
    X = rng.standard_normal((n, dim))
    X[3] = 0.0
    codes = pd.DataFrame(BQ.encode(X, None))

    def oracle(i, q):
        agree = 0
        for d in range(dim):
            if (X[i, d] > 0) == (q[d] > 0):
                agree += 1
        return float(agree)

    _check_kernel(bq_scores, codes, _queries(rng, dim), None, oracle)


def test_nvq_scores_match_python_oracle():
    from jvector_spark.operators.nvq import NVQ, nvq_reconstruct_batch, nvq_scores

    rng = np.random.default_rng(24)
    dim, n = 9, 40
    X = rng.standard_normal((n, dim))
    X[6] = 0.0
    for bits in (8, 4):
        codes = pd.DataFrame(NVQ.encode(X, bits))
        R = nvq_reconstruct_batch(codes, dim, bits)
        assert not R[6].any()
        S = _check_kernel(
            nvq_scores, codes, _queries(rng, dim), bits,
            lambda i, q: _cos(R[i], q),
        )
        assert not S[6].any() and not S[:, 2].any()


@pytest.mark.parametrize("tier", ["sq8", "nvq"])
def test_dequantized_scores_do_not_depend_on_the_batch(tier):
    """A row's SQ8 or NVQ score has the same bits in any row subset of the
    codes: the Spark scan cuts a tier's codes into Arrow batches at any
    row. (A BLAS matrix-vector product gave a row different bits in most
    subsets of this 5000 × 64 matrix.)"""
    from jvector_spark.operators.nvq import NVQ, nvq_scores
    from jvector_spark.operators.similarity import SQ8, sq8_scores

    rng = np.random.default_rng(26)
    X = rng.standard_normal((5000, 64))
    if tier == "sq8":
        mn = X.min(axis=0)
        kernel, params = sq8_scores, (mn, (X.max(axis=0) - mn) / 255.0)
        codes = pd.DataFrame(SQ8.encode(X, params))
    else:
        kernel, params = nvq_scores, 8
        codes = pd.DataFrame(NVQ.encode(X, params))
    Q = rng.standard_normal((2, 64))
    S = kernel(codes, Q, params)
    for size in (1, 3, 64, 999, 2500):
        idx = np.sort(rng.choice(len(X), size=size, replace=False))
        sub = codes.iloc[idx].reset_index(drop=True)
        assert np.array_equal(kernel(sub, Q, params), S[idx]), size


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


def _force_codes(monkeypatch, path: str) -> None:
    """Send every persisted-tier read's first pass to ``path`` ("driver"
    or "spark") through the one sizing constant."""
    from jvector_spark.index import vectors as V

    monkeypatch.setattr(V, "DRIVER_MAX_CODE_BYTES", 1 << 62 if path == "driver" else 0)


@pytest.mark.parametrize("tier", TIERS)
def test_indexed_tier_job_budget_by_path(
    spark, monkeypatch, embeddings, tier_dirs, tmp_path, tier
):
    """A single query runs one Spark job (the fetch of the candidates' raw
    vectors) when its codes are under the driver cap, and two (plus the
    codes scan) over it; both answer with the exact scan over the live
    rows, bit for bit, as tombstones accumulate."""
    import shutil

    from jvector_spark.index import vectors as V
    from jvector_spark.operators.similarity import cosine_topk

    serve = getattr(V, f"ann_topk_{tier}_indexed")
    qv = list(embeddings.filter(F.col("vec_id") == 4).select("embedding").first()[0])

    def exact(dead):
        live = embeddings.filter(~F.col("vec_id").isin(sorted(dead)))
        return [tuple(r) for r in cosine_topk(live, qv, k=10).collect()]

    for path, budget in (("driver", 1), ("spark", 2)):
        _force_codes(monkeypatch, path)
        d = str(tmp_path / path)
        shutil.copytree(tier_dirs[tier], d)
        dead: set[int] = set()
        for _ in range(3):
            rows, jobs = _jobs(spark, lambda: serve(spark, d, embeddings, qv, k=10).collect())
            assert jobs <= budget, f"{tier} {path} call, {len(dead)} tombstones: {jobs} jobs"
            # same exact kernel on both sides: scores equal bit for bit
            assert [tuple(r) for r in rows] == exact(dead)
            # tombstone the current top two (one id twice): the next answer
            # must be the exact scan over the survivors
            top = [rows[0].vec_id, rows[1].vec_id, rows[0].vec_id]
            V.vector_delete(spark, d, top)
            dead |= set(top)


def _on_both_paths(spark, monkeypatch, fn, driver_jobs: int) -> tuple[list, list]:
    """(columns, rows) of ``fn()`` (a local relation) on the forced-Spark
    path, asserted equal to the driver path's: columns, rows, ranks, ids
    and ``cos`` bits. The driver path must run at most ``driver_jobs``
    jobs."""
    def columns_and_rows():
        df = fn()
        return df.columns, [tuple(r) for r in df.collect()]

    got = {}
    for path in ("spark", "driver"):
        _force_codes(monkeypatch, path)
        got[path], jobs = _jobs(spark, columns_and_rows)
        if path == "driver":
            assert jobs <= driver_jobs, f"driver path ran {jobs} Spark jobs"
    assert got["driver"] == got["spark"]
    return got["spark"]


def _extended_dir(spark, embeddings, root, tier: str) -> str:
    """A tier built over two thirds of the fixture and extended with the
    rest, so its codes span the build's files and the extend's."""
    from jvector_spark.index import vectors as V
    from jvector_spark.index.storage import _data_files

    d = str(root / tier)
    getattr(V, f"{tier}_build")(embeddings.filter(F.col("vec_id") < 330), d)
    n_build = len(_data_files(d, "codes"))
    getattr(V, f"{tier}_extend")(embeddings.filter(F.col("vec_id") >= 330), d)
    assert len(_data_files(d, "codes")) > n_build >= 1
    return d


@pytest.mark.parametrize("tier", TIERS)
def test_driver_and_spark_first_pass_are_bit_equal(
    spark, monkeypatch, embeddings, tmp_path, tier
):
    """Property: on an extended structure under random tombstone waves, a
    read whose first pass runs on the driver returns the rows, ranks and
    ``cos`` bits of the forced-Spark read, at the default depth and at a
    depth of k (where the merge of the batches decides every candidate);
    an all-tombstoned structure returns an empty (rank, vec_id, cos)
    relation on both paths."""
    from jvector_spark.index import vectors as V

    serve = getattr(V, f"ann_topk_{tier}_indexed")
    d = _extended_dir(spark, embeddings, tmp_path, tier)
    vecs = {r[0]: list(r[1]) for r in embeddings.select("vec_id", "embedding").collect()}
    rng = np.random.default_rng(TIERS.index(tier))
    live = sorted(vecs)
    for _ in range(3):
        for qid in rng.choice(live, size=2, replace=False):
            for rerank in (None, 10):
                _, rows = _on_both_paths(
                    spark, monkeypatch,
                    lambda: serve(spark, d, embeddings, vecs[int(qid)], k=10, rerank=rerank),
                    driver_jobs=1,
                )
                assert [r[0] for r in rows] == list(range(1, 11))
                assert not {r[1] for r in rows} - set(live)
        # a wave: 60 random live ids and the wave's last query id, whose
        # own row would top its answer if the mask missed it
        dead = {int(i) for i in rng.choice(live, size=60, replace=False)} | {int(qid)}
        V.vector_delete(spark, d, sorted(dead))
        live = sorted(set(live) - dead)

    V.vector_delete(spark, d, sorted(vecs))
    assert _on_both_paths(
        spark, monkeypatch, lambda: serve(spark, d, embeddings, vecs[5], k=10), driver_jobs=0
    ) == (["rank", "vec_id", "cos"], [])


def test_pq_nvq_pipeline_paths_are_bit_equal(spark, monkeypatch, embeddings, tmp_path):
    """The compressed-only pipeline reads both structures through the
    sizing rule: under it no Spark job runs, and its rows and ``cos`` bits
    equal the forced-Spark read's, with tombstones and when every PQ row
    is tombstoned."""
    from jvector_spark.index import vectors as V

    pq_dir = _extended_dir(spark, embeddings, tmp_path, "pq")
    nvq_dir = _extended_dir(spark, embeddings, tmp_path, "nvq")
    vecs = {r[0]: list(r[1]) for r in embeddings.select("vec_id", "embedding").collect()}

    def call(qid):
        return lambda: V.ann_topk_pq_nvq_indexed(spark, pq_dir, nvq_dir, vecs[qid], k=10)

    for qid in (3, 250, 400):
        assert len(_on_both_paths(spark, monkeypatch, call(qid), driver_jobs=0)[1]) == 10
    V.vector_delete(spark, pq_dir, range(0, 500, 3))
    for qid in (3, 250, 400):
        _, rows = _on_both_paths(spark, monkeypatch, call(qid), driver_jobs=0)
        assert len(rows) == 10 and all(r[1] % 3 for r in rows)
    V.vector_delete(spark, pq_dir, sorted(vecs))
    assert _on_both_paths(spark, monkeypatch, call(3), driver_jobs=0) == (
        ["rank", "vec_id", "cos"], []
    )


def test_all_tombstoned_tier_returns_no_rows(spark, embeddings, tier_dirs):
    from jvector_spark.index.vectors import bq_load
    from jvector_spark.operators.bq import ann_topk_bq

    _, codes = bq_load(spark, tier_dirs["bq"])
    qv = list(embeddings.select("embedding").first()[0])
    out = ann_topk_bq(embeddings, qv, k=10, codes=codes, deleted=embeddings)
    assert out.columns == ["rank", "vec_id", "cos"]
    assert out.collect() == []


def _batch_call(spark, tier: str, index_dir: str):
    """The tier's batch operator and the kwargs that pass it the persisted
    params (codes and params loaded from ``index_dir``)."""
    from jvector_spark.index import vectors as V
    from jvector_spark.operators.bq import ann_topk_bq_batch
    from jvector_spark.operators.nvq import ann_topk_nvq_batch
    from jvector_spark.operators.pq import ann_topk_pq_batch
    from jvector_spark.operators.similarity import ann_topk_sq8_batch

    params, codes = V.load(V.TIERS[tier], spark, index_dir)
    fn, kw = {
        "sq8": (ann_topk_sq8_batch, dict(params=params)),
        "pq": (ann_topk_pq_batch, dict(codebooks=params)),
        "bq": (ann_topk_bq_batch, {}),
        "nvq": (ann_topk_nvq_batch, dict(bits=params)),
    }[tier]
    return fn, dict(codes=codes, **kw)


@pytest.mark.parametrize("tier", TIERS)
def test_batch_serves_in_two_jobs(spark, embeddings, tier_dirs, tier):
    """A batch runs the single query's two-phase path: one codes scan and
    one candidate fetch for the whole query table, whatever its size."""
    from jvector_spark.index.storage import local_relation

    fn, kw = _batch_call(spark, tier, tier_dirs[tier])
    qrows = embeddings.filter(F.col("vec_id") < 6).select("vec_id", "embedding").collect()
    queries = local_relation(
        spark, [(int(r[0]), [float(x) for x in r[1]]) for r in qrows],
        "query_id long, qvec array<double>",
    )
    deleted = local_relation(spark, [(0,), (1,)], "vec_id long")
    rows, jobs = _jobs(
        spark, lambda: fn(embeddings, queries, k=10, deleted=deleted, **kw).collect()
    )
    assert jobs <= 2, f"{tier} batch ran {jobs} jobs"
    assert len(rows) == 60 and not {r.vec_id for r in rows} & {0, 1}


@pytest.mark.parametrize("tier", TIERS + ("ivf",))
def test_extend_counts_on_the_write(spark, embeddings, tmp_path, monkeypatch, tier):
    """An extend encodes the delta once, in one Spark job on either side
    of the ingest rule: a driver-sized delta's collect (its count is the
    rows collected), or the Spark side's codes append, with the count
    observed on it (IVF's sidecar deltas come from the appended files'
    footers)."""
    from test_local_tables import _force

    from jvector_spark.index import vectors as V

    for side in ("driver", "spark"):
        _force(monkeypatch, side)
        d = str(tmp_path / f"{tier}_{side}")
        getattr(V, f"{tier}_build")(embeddings.filter(F.col("vec_id") < 300), d)
        rest = embeddings.filter(F.col("vec_id") >= 300)
        n, jobs = _jobs(spark, lambda: getattr(V, f"{tier}_extend")(rest, d))
        assert jobs == 1, side
        assert n == rest.count() == V.read_codes(spark, d).count() - 300, side


def test_ivf_delete_and_query_job_budgets(spark, embeddings, tmp_path):
    """IVF shares the tiers' tombstone plumbing: under the codes sizing
    rule a delete (the clusters of the new ids, read with pyarrow), a
    repeat delete, and the sidecar and centroid reads run no Spark job,
    and a probed query one (the fetch of the candidates' raw vectors),
    with or without tombstones. A missing sidecar raises."""
    import shutil

    from jvector_spark.index.vectors import (
        ivf_build,
        ivf_cluster_sizes,
        ivf_delete,
        ivf_read_centroids,
        ivf_topk_indexed,
    )

    d = str(tmp_path / "ivf")
    ivf_build(embeddings, d, n_clusters=8, n_iters=4, seed=77)
    qv = list(embeddings.filter(F.col("vec_id") == 4).select("embedding").first()[0])
    rows, jobs = _jobs(spark, lambda: ivf_topk_indexed(spark, d, embeddings, qv, k=10).collect())
    assert jobs <= 1
    dead = [r.vec_id for r in rows[:3]]
    _, jobs = _jobs(spark, lambda: ivf_delete(spark, d, dead + dead[:1]))
    assert jobs == 0
    _, jobs = _jobs(spark, lambda: ivf_delete(spark, d, dead))
    assert jobs == 0
    _, jobs = _jobs(spark, lambda: (ivf_cluster_sizes(spark, d), ivf_read_centroids(spark, d)))
    assert jobs == 0
    for n_probe in (4, None):
        rows, jobs = _jobs(
            spark,
            lambda: ivf_topk_indexed(spark, d, embeddings, qv, k=10, n_probe=n_probe).collect(),
        )
        assert jobs <= 1 and not {r.vec_id for r in rows} & set(dead)
    shutil.rmtree(os.path.join(d, "cluster_sizes"))
    with pytest.raises(FileNotFoundError, match="cluster_sizes"):
        ivf_cluster_sizes(spark, d)
