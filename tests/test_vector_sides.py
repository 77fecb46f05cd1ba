"""A vector input that is driver-sized under the one ingest rule
(``storage.driver_sized``) is collected once and fitted, encoded and
written on the driver; a larger one runs in Spark. Tests force a side
through ``storage.DRIVER_MAX_INGEST_BYTES`` (``test_local_tables._force``).
Both sides must write the same rows in every table of every tier, on a
build and on an extend, answer the same rows and ``cos`` bits, and an
exact scan (``cosine_topk``, ``cosine_topk_batch``) must return the same
rows and bits on both, degenerate inputs included."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_local_tables import _force, _jobs

from tools.diff_index import diff_dirs, read_rows
from tools.make_golden_vectors import BUILDERS

TIERS = ("sq8", "pq", "bq", "nvq", "ivf")
SIDES = ("driver", "spark")
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")


def _serve(tier: str):
    from jvector_spark.index import vectors as V

    return V.ivf_topk_indexed if tier == "ivf" else getattr(V, f"ann_topk_{tier}_indexed")


def _bits(rows) -> list[tuple]:
    """Rows with each float as its exact hex form (NaN as "nan"), so an
    equality compares bits and a NaN equals a NaN."""
    def key(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else v.hex()
        return v

    return [tuple(key(v) for v in r) for r in rows]


def _answers(spark, tier: str, d: str, emb, queries) -> list:
    """(rank, id, cos) rows of every query, cos by its bits."""
    return [_bits(_serve(tier)(spark, d, emb, q, k=10).collect()) for q in queries]


@pytest.fixture(scope="module")
def degenerate(spark):
    """The fixture's vectors with an ``int`` id column (not ``long``), in
    shuffled row order, with a zero vector and two exact copies (tied
    cosines)."""
    from jvector_spark.fixtures import make_embeddings_pdf

    pdf = make_embeddings_pdf(n_vecs=400, dim=32, seed=8)
    pdf.at[5, "embedding"] = [0.0] * 32
    pdf.at[9, "embedding"] = list(pdf.at[3, "embedding"])
    pdf.at[12, "embedding"] = list(pdf.at[3, "embedding"])
    pdf = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    return spark.createDataFrame(pdf, "vec_id int, embedding array<double>").cache()


@pytest.mark.parametrize("corpus", ["long ids", "int ids, zero vector, ties"])
@pytest.mark.parametrize("tier", TIERS)
def test_sides_write_the_same_rows_and_answer_alike(
    spark, monkeypatch, tmp_path, degenerate, tier, corpus
):
    """5 tiers × {build, extend} × both sides: every table row-equal under
    ``diff_dirs``, and the served answers (rank, id, cos bits) equal. A
    driver-side build or extend runs 1 Spark job (the collect)."""
    from jvector_spark.fixtures import make_embeddings
    from jvector_spark.index import vectors as V

    emb = make_embeddings(spark) if corpus == "long ids" else degenerate
    vecs = {r[0]: list(r[1]) for r in emb.select("vec_id", "embedding").collect()}
    queries = [vecs[i] for i in (3, 5, 250)]
    build = {"ivf": lambda e, d: V.ivf_build(e, d, n_iters=4)}.get(
        tier, getattr(V, f"{tier}_build")
    )
    got = {}
    for side in SIDES:
        _force(monkeypatch, side)
        d, e = str(tmp_path / f"{side}_build"), str(tmp_path / f"{side}_extend")
        _, jobs = _jobs(spark, lambda: build(emb, d))
        if side == "driver":
            assert jobs == 1, f"{tier} driver build ran {jobs} jobs"
        build(emb.filter(F.col("vec_id") < 200), e)
        n, jobs = _jobs(
            spark, lambda: getattr(V, f"{tier}_extend")(emb.filter(F.col("vec_id") >= 200), e)
        )
        assert jobs == 1 and n == len(vecs) - 200, (side, jobs, n)
        got[side] = (d, e, _answers(spark, tier, d, emb, queries),
                     _answers(spark, tier, e, emb, queries))
    (db, de, ab, ae), (sb, se, spb, spe) = got["driver"], got["spark"]
    assert all(diff_dirs(db, sb).values()), diff_dirs(db, sb)
    assert all(diff_dirs(de, se).values()), diff_dirs(de, se)
    assert ab == spb and ae == spe
    assert all(len(a) == 10 for a in ab)


def _centroids(d: str) -> np.ndarray:
    tbl = read_rows(os.path.join(d, "centroids")).sort_by("cluster")
    return np.array(tbl["centroid"].to_pylist())


def test_fresh_builds_reproduce_the_vector_goldens(spark, monkeypatch, tmp_path):
    """A build with ``tools/make_golden_vectors.py``'s arguments writes the
    committed ``tests/golden/<tier>_index`` rows on either side of the
    rule. IVF's centroids differ from the committed ones by at most
    5.6e-17 in 70 of 256 doubles (a fresh build's k-means lands there on
    both sides, deterministically), so they are pinned bit-equal between
    the two sides and within 1e-15 of the golden."""
    from jvector_spark.fixtures import make_embeddings

    emb = make_embeddings(spark).cache()
    for tier, build in BUILDERS.items():
        golden = os.path.join(GOLDEN, f"{tier}_index")
        cents = {}
        for side in SIDES:
            _force(monkeypatch, side)
            d = str(tmp_path / f"{tier}_{side}")
            build(emb, d)
            same = diff_dirs(d, golden)
            if tier == "ivf":
                same.pop("centroids")
                cents[side] = _centroids(d)
            assert same and all(same.values()), (tier, side, same)
        if tier == "ivf":
            assert np.array_equal(cents["driver"], cents["spark"])
            assert np.abs(cents["driver"] - _centroids(golden)).max() <= 1e-15


@pytest.fixture(scope="module")
def scan_corpus(spark):
    """Vectors for the exact scans: ``int`` ids in shuffled order, a zero
    vector, exact copies and rescales of one vector (tied cosines), a NaN
    component (its cosine is 0) and an infinite one (its cosine is NaN)."""
    rng = np.random.default_rng(21)
    X = rng.standard_normal((300, 16))
    X[4] = 0.0
    X[10], X[11], X[12] = X[7], 2.0 * X[7], 0.5 * X[7]
    X[20, 3] = np.nan
    X[30, 0] = np.inf
    ids = rng.permutation(np.arange(1000, 1300))
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, X)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>"), ids, X


def test_exact_scans_agree_across_sides(spark, monkeypatch, scan_corpus):
    """``cosine_topk`` and ``cosine_topk_batch`` return the same columns,
    rows and cos bits on both sides: ties break by ascending id, the
    vector with a NaN component and the zero vector score 0, the one with
    an infinite component (an undefined cosine) comes back null and ranks
    last, as Spark's ``DESC NULLS LAST`` puts it, and the driver side runs
    1 Spark job."""
    from jvector_spark.index.storage import local_relation
    from jvector_spark.operators.similarity import cosine_topk, cosine_topk_batch

    emb, ids, X = scan_corpus
    Q = [X[7], -X[7], np.zeros(16), X[100]]
    qs = local_relation(spark, [(j, [float(x) for x in q]) for j, q in enumerate(Q)],
                        "query_id long, qvec array<double>")
    got = {}
    for side in SIDES:
        _force(monkeypatch, side)
        out = []
        for q in Q:
            df, jobs = _jobs(spark, lambda: cosine_topk(emb, [float(x) for x in q], k=300))
            rows, more = _jobs(spark, df.collect)
            if side == "driver":
                assert jobs + more == 1
            out.append((df.columns, _bits(rows)))
        df = cosine_topk_batch(emb, qs, k=300)
        out.append((df.columns, _bits(df.collect())))
        got[side] = out
    assert got["driver"] == got["spark"]

    columns, rows = got["driver"][0]
    assert columns == ["rank", "vec_id", "cos"]
    assert [r[0] for r in rows] == list(range(1, 301))
    # the tied copies first, by id; the undefined cosine last, as null
    tied = sorted(int(ids[i]) for i in (7, 10, 11, 12))
    assert [r[1] for r in rows[:4]] == tied and len({r[2] for r in rows[:4]}) == 1
    assert rows[-1][1:] == (ids[30], None)
    by_id = {r[1]: r[2] for r in rows}
    assert by_id[ids[4]] == by_id[ids[20]] == 0.0.hex()
    # a zero query scores every row 0, the infinite one too: ids ascend
    zero = got["driver"][2][1]
    assert {r[2] for r in zero} == {0.0.hex()} and [r[1] for r in zero] == sorted(ids.tolist())
    columns, batch = got["driver"][4]
    assert columns == ["query_id", "rank", "vec_id", "cos"]
    for j in range(len(Q)):
        assert [r[1:] for r in batch if r[0] == j] == got["driver"][j][1]
