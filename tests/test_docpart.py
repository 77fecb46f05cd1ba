"""Doc-partitioned index tests: results identical to the term-partitioned
engine AND the brute-force oracle (pruned, unpruned and every relational
read), buckets actually partition the doc space, decode parity. Reads of
this layout run the term layout's query bodies; only the part directories
they open differ (every doc bucket)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dp_index(tmp_path_factory, corpus):
    from jvector_spark.index.docpart import build_doc_partitioned

    d = str(tmp_path_factory.mktemp("dpidx"))
    m = build_doc_partitioned(
        corpus, d, doc_map_cols=["conv_id", "turn_idx"], n_buckets=8
    )
    assert m["postings_emitted"] > 0
    return d


@pytest.fixture(scope="module")
def tp_index(tmp_path_factory, corpus):
    from jvector_spark.index.build import build_index

    d = str(tmp_path_factory.mktemp("tpidx"))
    build_index(corpus, d, n_parts=4, doc_map_cols=["conv_id", "turn_idx"])
    return d


def _assert_buckets_partition_doc_space(spark, d):
    from jvector_spark.index.storage import read_segments, read_table

    seg = read_segments(spark, d)
    assert seg["layout"] == "doc"
    w = int(seg["bucket_width"])
    p = read_table(spark, d, "postings")
    bad = p.filter(
        (F.col("base") < F.col("part_id") * w)
        | (F.col("max_doc_id") >= (F.col("part_id") + 1) * w)
    ).count()
    assert bad == 0, "posting blocks must not straddle bucket boundaries"
    assert p.select("part_id").distinct().count() > 1


def test_buckets_partition_doc_space(spark, corpus, dp_index):
    _assert_buckets_partition_doc_space(spark, dp_index)


def _queries(spark, query_set):
    from jvector_spark.operators.topk import queries_df

    return queries_df(
        spark,
        list(zip(query_set["query_id"][:15], [list(t) for t in query_set["terms"][:15]])),
    )


def _assert_topk_equals_bruteforce(spark, corpus, d, qdf) -> list:
    """Pruned and unpruned top-10 over the index at ``d`` equal the
    brute-force oracle's over ``corpus``; returns the oracle's rows."""
    from jvector_spark.index.docpart import bm25_topk_docpart
    from jvector_spark.operators.topk import bm25_topk_bruteforce

    want = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in bm25_topk_bruteforce(corpus, qdf, k=10).collect()
    )
    for prune in (True, False):
        got = sorted(
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in bm25_topk_docpart(spark, d, qdf, k=10, prune=prune).collect()
        )
        assert got == want, f"prune={prune}"
    return want


def test_docpart_topk_equals_bruteforce_and_termpart(
    spark, corpus, dp_index, tp_index, query_set
):
    from jvector_spark.index.query import bm25_topk_indexed

    qdf = _queries(spark, query_set)
    want = _assert_topk_equals_bruteforce(spark, corpus, dp_index, qdf)
    tp_rows = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in bm25_topk_indexed(spark, tp_index, qdf, k=10).collect()
    )
    assert tp_rows == want


def _rows(df) -> list[tuple]:
    """Sorted rows, scores rounded to 9 places (the oracle sums in another
    order)."""
    return sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def test_docpart_relational_reads_equal_termpart_and_oracle(
    spark, monkeypatch, corpus, dp_index, tp_index
):
    """The relational reads decode the query terms' blocks in every doc
    bucket, not only in the part a term's id hashes to: t0300 (df 13) and
    t0042 (df 129) lie in several buckets of the 8, and each read must
    return the term layout's rows and the brute-force oracle's."""
    import jvector_spark.index.query as Q
    from jvector_spark.operators.conversation import conv_topk, conv_topk_indexed
    from jvector_spark.operators.topk import (
        bm25_score_all,
        queries_df,
        tfidf_topk_bruteforce,
        topk,
    )

    qdf = queries_df(
        spark, [(0, ["t0042"]), (1, ["t0300"]), (2, ["t0042", "t0300", "t0007"])]
    )
    accept = corpus.filter(F.col("role") == "assistant").select("doc_id")
    scored = bm25_score_all(corpus, qdf)
    # the broad (relational, accept-joined) branch of the filtered read
    monkeypatch.setattr(Q, "ACCEPT_BROADCAST_LIMIT", 0)
    reads = {
        "threshold": (
            lambda d: Q.threshold_search_indexed(spark, d, qdf, 0.0),
            scored.filter(F.col("score") >= 0.0),
        ),
        "tfidf": (
            lambda d: Q.tfidf_topk_indexed(spark, d, qdf, k=50),
            tfidf_topk_bruteforce(corpus, qdf, k=50),
        ),
        "unpruned": (
            lambda d: Q.bm25_topk_indexed(spark, d, qdf, k=50, prune=False),
            topk(scored, k=50),
        ),
        "filtered": (
            lambda d: Q.bm25_topk_indexed_filtered(spark, d, qdf, accept, k=50),
            topk(scored.join(accept, "doc_id"), k=50),
        ),
        "conv": (
            lambda d: conv_topk_indexed(spark, d, qdf, k=20),
            conv_topk(corpus, qdf, k=20),
        ),
    }
    for name, (read, oracle) in reads.items():
        want = _rows(oracle)
        assert {r[0] for r in want} == {0, 1, 2}, name
        assert _rows(read(dp_index)) == _rows(read(tp_index)) == want, name


def test_docpart_decode_parity(spark, corpus, dp_index):
    from jvector_spark.index.query import decode_postings
    from jvector_spark.index.storage import read_table
    from jvector_spark.operators import dictionary, term_freq

    tf = term_freq(corpus)
    dct = read_table(spark, dp_index, "dictionary")
    want = (
        tf.join(dct.select("term", "term_id"), "term")
        .groupBy()
        .agg(F.count("*").alias("n"), F.sum("tf").alias("s"))
        .collect()[0]
    )
    got = (
        decode_postings(spark, dp_index)
        .groupBy()
        .agg(F.count("*").alias("n"), F.sum("tf").alias("s"))
        .collect()[0]
    )
    assert (got["n"], got["s"]) == (want["n"], want["s"])


def test_compaction_keeps_buckets_and_answers(
    spark, corpus, dp_index, query_set, tmp_path
):
    """Compaction rewrites a doc-partitioned index through the layout's
    part rule: with every 7th doc deleted, the compacted index verifies,
    no block straddles a bucket, and pruned and unpruned reads equal the
    brute-force oracle over the live docs."""
    import shutil

    from jvector_spark.index.maintenance import compact_index, delete_docs, verify_index
    from jvector_spark.index.storage import read_segments
    from test_extend_maintenance import files_per_part

    d = str(tmp_path / "dp")
    shutil.copytree(dp_index, d)
    dead = list(range(0, corpus.count(), 7))
    delete_docs(spark, d, dead)
    m = compact_index(spark, d)
    assert m["docs_removed"] == len(dead)
    assert verify_index(spark, d)["ok"]
    seg = read_segments(spark, d)
    assert (seg["n_docs"], seg["n_parts"]) == (corpus.count() - len(dead), 8)
    _assert_buckets_partition_doc_space(spark, d)
    # each bucket is re-encoded by one task, into one file
    assert files_per_part(d) == [1] * 8
    live = corpus.filter(F.col("doc_id") % 7 != 0)
    _assert_topk_equals_bruteforce(spark, live, d, _queries(spark, query_set))


def test_docpart_rejects_wrong_layout(spark, corpus, tmp_path):
    from jvector_spark.index.build import build_index
    from jvector_spark.index.docpart import bm25_topk_docpart
    from jvector_spark.operators.topk import queries_df

    d = str(tmp_path / "tp")
    build_index(corpus.limit(300), d, n_parts=2)
    with pytest.raises(ValueError):
        bm25_topk_docpart(spark, d, queries_df(spark, [(0, ["t0001"])]), k=5)


def test_empty_and_unknown_queries(spark, dp_index):
    from jvector_spark.index.docpart import bm25_topk_docpart
    from jvector_spark.operators.topk import queries_df

    q = queries_df(spark, [(0, ["zzznope"]), (1, [])])
    assert bm25_topk_docpart(spark, dp_index, q, k=5).count() == 0


def test_cli_rejects_resume_for_doc_layout(monkeypatch, capsys):
    """A doc-layout build has no resume, so the CLI refuses ``--resume``
    with ``--layout doc`` before any Spark session starts, where it once
    ran a full rebuild."""
    import jvector_spark.session as S
    from jvector_spark.__main__ import main

    monkeypatch.setattr(
        S, "get_spark", lambda *a, **k: pytest.fail("a Spark session started")
    )
    with pytest.raises(SystemExit) as e:
        main(["build", "--source", "src", "--index", "idx", "--layout", "doc", "--resume"])
    assert e.value.code == 2
    assert "--resume" in capsys.readouterr().err
