"""The two pruned BM25 read paths must agree bit for bit, on both index
layouts. A driver-sized read runs the WAND kernel on the driver over a
pyarrow read of the pruned part files; a larger one runs it in Spark
bucket tasks. Each test forces a path by setting the sizing rule's module
constants. A term-partitioned and a doc-partitioned index of one corpus
return the same rows and score bits. The shared idf function must equal
Catalyst's ``log`` expressions bit for bit, and a query id that does not
fit the output's ``query_id int`` fails loudly."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_local_tables import _jobs

import jvector_spark.index.query as Q

OOV = ["zzz_oov_a", "zzz_oov_b"]


def _force(monkeypatch, path: str) -> None:
    big = 1 << 62
    monkeypatch.setattr(Q, "DRIVER_MAX_POSTINGS", big if path == "driver" else 0)
    monkeypatch.setattr(Q, "DRIVER_MAX_BYTES", big if path == "driver" else 0)


def _collect(spark, monkeypatch, path: str, fn) -> list[tuple]:
    """Sorted result rows of ``fn()`` on the forced path; the driver path
    must run no Spark job."""
    _force(monkeypatch, path)
    rows, jobs = _jobs(spark, lambda: [tuple(r) for r in fn().collect()])
    if path == "driver":
        assert jobs == 0, f"driver path ran {jobs} Spark jobs"
    return sorted(rows)


def _both(spark, monkeypatch, fn) -> list[tuple]:
    """Rows of ``fn()`` on the Spark path, asserted bit-equal to the
    driver path's: rows, ranks, doc ids, scores and the metrics columns,
    except ``kernel_ms`` (the last one, a wall time)."""
    spark_rows = _collect(spark, monkeypatch, "spark", fn)
    driver_rows = _collect(spark, monkeypatch, "driver", fn)
    if spark_rows and len(spark_rows[0]) == 7:
        assert all(r[6] >= 0.0 for r in driver_rows + spark_rows)
        spark_rows = [r[:6] for r in spark_rows]
        driver_rows = [r[:6] for r in driver_rows]
    assert driver_rows == spark_rows
    return spark_rows


def _random_queries(rng, vocab: list[str], n: int) -> list[tuple]:
    """(query_id, term, weight) rows: 1-5 dictionary terms per query,
    some repeated (duplicate rows of one term sum their weights), some
    queries with an out-of-vocabulary term, one all-OOV query."""
    rows = []
    for qid in range(n):
        terms = list(rng.choice(vocab, size=int(rng.integers(1, 6))))
        if rng.random() < 0.3:
            terms.append(terms[0])
        if rng.random() < 0.3:
            terms.append(OOV[qid % 2])
        rows += [(qid, t, float(rng.integers(1, 3))) for t in terms]
    rows += [(n, t, 1.0) for t in OOV]
    return rows


def _build(corpus, layout: str, d: str) -> str:
    from jvector_spark.index.build import build_index
    from jvector_spark.index.docpart import build_doc_partitioned

    small = corpus.filter(F.col("doc_id") < 2000)
    if layout == "term":
        # low salt threshold: hot terms span several salts and part files
        build_index(small, d, n_parts=4, salt_threshold=64, target_salt_postings=64)
    else:
        build_doc_partitioned(small, d, n_buckets=4)
    return d


@pytest.fixture(scope="module", params=["term", "doc"])
def index_dir(request, tmp_path_factory, corpus):
    return _build(corpus, request.param, str(tmp_path_factory.mktemp("paths_idx")))


@pytest.fixture(scope="module")
def term_index_dir(tmp_path_factory, corpus):
    return _build(corpus, "term", str(tmp_path_factory.mktemp("term_idx")))


def test_driver_path_equals_spark_path(spark, monkeypatch, index_dir):
    from jvector_spark.index.maintenance import delete_docs
    from jvector_spark.index.storage import local_relation

    rng = np.random.default_rng(11)
    dct = spark.read.parquet(f"{index_dir}/dictionary").select("term", "df").collect()
    # half hot terms (salted, many blocks), half from the whole vocabulary
    hot = [r.term for r in sorted(dct, key=lambda r: -r.df)[:40]]
    vocab = hot + list(rng.choice([r.term for r in dct], size=40, replace=False))
    qdf = local_relation(
        spark, _random_queries(rng, vocab, 30),
        "query_id int, term string, weight double",
    )
    n_docs = 2000

    for wave in range(4):
        if wave:
            # tombstone waves: each deletes docs the last read returned
            served = sorted({r[2] for r in base if r[1] <= 3})
            delete_docs(spark, index_dir, served[:: 2 + wave])
        base = _both(
            spark, monkeypatch,
            lambda: Q.bm25_topk_indexed(spark, index_dir, qdf, k=10),
        )
        assert len({r[0] for r in base}) >= 25
        assert not any(r[0] == 30 for r in base)  # the all-OOV query
        paged = _both(
            spark, monkeypatch,
            lambda: Q.bm25_topk_indexed(spark, index_dir, qdf, k=10, offset=3),
        )
        assert [r for r in paged if r[1] <= 10] == [r for r in base if r[1] > 3]
        accept = np.sort(rng.choice(n_docs, size=700, replace=False)).astype(np.int64)
        filtered = _both(
            spark, monkeypatch,
            lambda: Q.bm25_topk_indexed(
                spark, index_dir, qdf, k=10, accept_ids=accept
            ),
        )
        assert filtered and {r[2] for r in filtered} <= set(accept.tolist())
        metrics = _both(
            spark, monkeypatch,
            lambda: Q.bm25_topk_indexed(
                spark, index_dir, qdf, k=10, offset=2, with_metrics=True
            ),
        )
        assert sum(r[4] for r in metrics) > 0


def test_layouts_return_the_same_rows_and_score_bits(
    spark, monkeypatch, corpus, term_index_dir, tmp_path
):
    """A term-partitioned and a doc-partitioned index of one corpus differ
    only in which part files a read opens: both paths return the same
    rows and score bits on both, and a driver-sized read of either runs
    no Spark job."""
    from jvector_spark.index.storage import local_relation

    dirs = {"term": term_index_dir, "doc": _build(corpus, "doc", str(tmp_path))}
    rng = np.random.default_rng(17)
    dct = spark.read.parquet(f"{dirs['term']}/dictionary").select("term", "df").collect()
    hot = [r.term for r in sorted(dct, key=lambda r: -r.df)[:40]]
    vocab = hot + list(rng.choice([r.term for r in dct], size=40, replace=False))
    qdf = local_relation(
        spark, _random_queries(rng, vocab, 30),
        "query_id int, term string, weight double",
    )
    rows = {
        lay: _both(spark, monkeypatch, lambda: Q.bm25_topk_indexed(spark, d, qdf, k=10))
        for lay, d in dirs.items()
    }
    assert len(rows["term"]) > 200
    # scores are positive floats: equal values are equal bits
    assert rows["doc"] == rows["term"]
    # unforced, a small read of the doc layout stays on the driver
    monkeypatch.undo()
    _, jobs = _jobs(
        spark, lambda: Q.bm25_topk_indexed(spark, dirs["doc"], qdf, k=10).collect()
    )
    assert jobs == 0, f"driver-sized doc-layout read ran {jobs} Spark jobs"


def test_kernel_body_is_block_order_independent(term_index_dir):
    """Spark-free: the shared per-bucket body returns the same rows and
    score bits whatever order its blocks arrive in (a shuffle's fetch
    order, a file listing's order)."""
    import glob

    from jvector_spark.index.storage import read_files

    rng = np.random.default_rng(3)
    files = sorted(glob.glob(f"{term_index_dir}/postings/part_id=*/*.parquet"))
    blocks = read_files(files, Q._WAND_COLS).to_pandas()
    terms = blocks["term_id"].value_counts()
    vocab = np.concatenate([terms.index[:30], rng.choice(terms.index, 30)])
    queries = []
    for qid in range(40):
        tids = np.unique(rng.choice(vocab, size=int(rng.integers(2, 7))))
        queries.append(
            (qid, (tids.astype(np.int64), rng.integers(1, 3, len(tids)).astype(np.float64),
                   rng.uniform(0.1, 7.0, len(tids))))
        )
    kernel = dict(k=10, k1=1.2, b=0.75, avgdl=float(rng.uniform(8, 30)),
                  with_metrics=True)

    def run(frame):
        return Q._wand_queries(frame, queries, **kernel).drop(columns="kernel_ms")

    want = run(blocks)
    assert len(want) > 300
    for seed in range(3):
        shuffled = blocks.sample(frac=1.0, random_state=seed)
        got = run(shuffled)
        assert got.equals(want)


def test_sharded_driver_path_equals_spark_path(spark, monkeypatch, transcripts, tmp_path):
    from jvector_spark.index.sharded import bm25_topk_sharded, build_sharded
    from jvector_spark.index.storage import local_relation

    dirs = build_sharded(
        transcripts.limit(1200), str(tmp_path), n_shards=2,
        order_cols=["conv_id", "turn_idx"], n_parts=2,
        salt_threshold=64, target_salt_postings=64,
    )
    rng = np.random.default_rng(5)
    vocab = sorted(
        {r.term for d in dirs for r in spark.read.parquet(f"{d}/dictionary")
         .orderBy(F.desc("df")).limit(60).collect()}
    )
    qdf = local_relation(
        spark, _random_queries(rng, vocab, 12),
        "query_id int, term string, weight double",
    )
    # each shard's read runs on the forced path; the merge window runs in
    # Spark either way, so only the rows are compared
    _force(monkeypatch, "spark")
    want = sorted(map(tuple, bm25_topk_sharded(spark, dirs, qdf, k=10).collect()))
    _force(monkeypatch, "driver")
    got = sorted(map(tuple, bm25_topk_sharded(spark, dirs, qdf, k=10).collect()))
    assert got == want and len(want) > 50


def test_idf_values_equal_catalyst_log(spark):
    n = 6000
    df = F.col("id")
    rows = (
        spark.range(1, n + 1)
        .select(
            df,
            # the Catalyst expressions the relational idf used to be
            F.log(
                F.lit(1.0)
                + (F.lit(float(n)) - df + F.lit(0.5)) / (df + F.lit(0.5))
            ).alias("bm25"),
            F.log(F.lit(1.0) + F.lit(float(n)) / df).alias("tfidf"),
        )
        .collect()
    )
    dfs = [r.id for r in rows]
    bm25 = Q.idf_values(spark, dfs, n)
    tfidf = Q.idf_values(spark, dfs, n, idf="tfidf")
    # compared as bit patterns, not with a tolerance
    assert [np.float64(bm25[r.id]).tobytes() for r in rows] == [
        np.float64(r.bm25).tobytes() for r in rows
    ]
    assert [np.float64(tfidf[r.id]).tobytes() for r in rows] == [
        np.float64(r.tfidf).tobytes() for r in rows
    ]


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_query_ids_wider_than_int_raise(spark, monkeypatch, term_index_dir, path):
    from jvector_spark.index.storage import local_relation

    term = spark.read.parquet(f"{term_index_dir}/dictionary").orderBy(F.desc("df")).first().term
    # both ids are 7 modulo 2^32: truncated, they would merge into query 7
    qdf = local_relation(
        spark, [((1 << 33) + 7, term, 1.0), ((1 << 34) + 7, term, 1.0)],
        "query_id long, term string, weight double",
    )
    _force(monkeypatch, path)
    with pytest.raises(ValueError, match="does not fit the output's query_id int"):
        Q.bm25_topk_indexed(spark, term_index_dir, qdf, k=10).collect()
    # ids inside the int range still pass through a long relation
    ok = local_relation(
        spark, [(7, term, 1.0), (-(1 << 31), term, 1.0)],
        "query_id long, term string, weight double",
    )
    got = {
        r.query_id for r in Q.bm25_topk_indexed(spark, term_index_dir, ok, k=3).collect()
    }
    assert got == {7, -(1 << 31)}
