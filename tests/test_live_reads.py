"""No indexed read serves a tombstoned doc. The relational, boolean,
conversation and positional reads get their rows from one reader that
masks tombstones (``query.live_rows``); the WAND paths mask in the
kernel. Compaction rewrites ``positions/`` without the dead docs, and an
extend refuses an index with positions, since neither extend path writes
them (the analog of the reference's deletion suite,
TestDeletions.java:42-159)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from test_local_tables import _copy, _snapshot

K = 100_000  # above the corpus size: a top-k read returns every match


def _bigram(corpus) -> tuple[str, str]:
    """The most frequent adjacent pair of two distinct terms."""
    from jvector_spark.operators.phrase import token_positions

    pos = token_positions(corpus)
    a = pos.select("doc_id", F.col("pos").alias("p"), F.col("term").alias("t1"))
    b = pos.select("doc_id", (F.col("pos") - 1).alias("p"), F.col("term").alias("t2"))
    r = (
        a.join(b, ["doc_id", "p"])
        .filter(F.col("t1") != F.col("t2"))
        .groupBy("t1", "t2")
        .count()
        .orderBy(F.desc("count"), "t1", "t2")
        .first()
    )
    return r.t1, r.t2


@pytest.fixture(scope="module")
def dead_index(tmp_path_factory, spark, corpus):
    """(index dir, phrase terms, dead doc ids, dead conv ids): a salted
    4-part index with positions in which every turn of three conversations
    that hold the phrase is tombstoned."""
    from jvector_spark.index.build import build_index
    from jvector_spark.index.maintenance import delete_docs
    from jvector_spark.index.positions import add_positions
    from jvector_spark.operators.phrase import phrase_count

    d = str(tmp_path_factory.mktemp("dead_idx"))
    build_index(
        corpus, d, salt_threshold=64, target_salt_postings=64, n_parts=4,
        doc_map_cols=["conv_id"],
    )
    add_positions(corpus, d)
    terms = _bigram(corpus)
    hits = phrase_count(corpus, *terms).select("doc_id")
    convs = sorted(
        r.conv_id for r in corpus.join(hits, "doc_id").select("conv_id").distinct().collect()
    )[:3]
    dead = {
        r.doc_id
        for r in corpus.filter(F.col("conv_id").isin(convs)).select("doc_id").collect()
    }
    assert delete_docs(spark, d, dead) == len(dead)
    return d, terms, dead, set(convs)


def _read(spark, monkeypatch, d, terms, read):
    """(ids, key): the id column ``key`` of ``read``'s rows over ``terms``."""
    from jvector_spark.index import query as Q
    from jvector_spark.index.positions import phrase_count_indexed, proximity_count_indexed
    from jvector_spark.index.storage import read_table
    from jvector_spark.operators.boolean import boolean_and_indexed, boolean_or_indexed
    from jvector_spark.operators.conversation import conv_topk_indexed
    from jvector_spark.operators.topk import queries_df

    qterms = queries_df(spark, [(0, list(terms))])
    if read.endswith("_spark"):
        monkeypatch.setattr(Q, "DRIVER_MAX_POSTINGS", 0)
    if read == "filtered_broad":
        monkeypatch.setattr(Q, "ACCEPT_BROADCAST_LIMIT", 0)
    accept = read_table(spark, d, "doc_map").select("doc_id")
    reads = {
        "bm25_pruned": lambda: Q.bm25_topk_indexed(spark, d, qterms, k=K),
        "bm25_unpruned": lambda: Q.bm25_topk_indexed(spark, d, qterms, k=K, prune=False),
        "prefix": lambda: Q.bm25_topk_prefix(spark, d, terms[0], k=K),
        "tfidf": lambda: Q.tfidf_topk_indexed(spark, d, qterms, k=K),
        "threshold": lambda: Q.threshold_search_indexed(spark, d, qterms, float("-inf")),
        "filtered": lambda: Q.bm25_topk_indexed_filtered(spark, d, qterms, accept, k=K),
        "boolean_and": lambda: boolean_and_indexed(spark, d, list(terms)),
        "boolean_or": lambda: boolean_or_indexed(spark, d, list(terms)),
        "phrase": lambda: phrase_count_indexed(spark, d, *terms),
        "proximity": lambda: proximity_count_indexed(spark, d, *terms, slop=2),
    }
    if read == "conv":
        rows = conv_topk_indexed(spark, d, qterms, k=K, group_col="conv_id")
        return {r.conv_id for r in rows.select("conv_id").collect()}, "conv_id"
    rows = reads[read.removesuffix("_driver").removesuffix("_spark").removesuffix("_broad")]()
    return {r.doc_id for r in rows.select("doc_id").collect()}, "doc_id"


@pytest.mark.parametrize(
    "read",
    [
        "bm25_pruned_driver", "bm25_pruned_spark",
        "bm25_unpruned_driver", "bm25_unpruned_spark",
        "prefix", "tfidf", "threshold", "filtered", "filtered_broad",
        "boolean_and", "boolean_or", "conv", "phrase", "proximity",
    ],
)
def test_no_indexed_read_serves_a_tombstoned_doc(spark, monkeypatch, dead_index, read):
    d, terms, dead, dead_convs = dead_index
    ids, key = _read(spark, monkeypatch, d, terms, read)
    assert ids, read
    assert not ids & (dead_convs if key == "conv_id" else dead), read


def test_compaction_rewrites_positions_without_dead_docs(spark, corpus, dead_index, tmp_path):
    """After delete + compact (which clears the tombstones) the phrase and
    proximity reads equal the brute-force oracles over the live docs."""
    from jvector_spark.index.maintenance import compact_index
    from jvector_spark.index.positions import phrase_count_indexed, proximity_count_indexed
    from jvector_spark.operators.phrase import phrase_count, proximity_count

    d, (t1, t2), dead, _ = dead_index
    d = _copy(d, tmp_path)
    compact_index(spark, d)
    live = corpus.filter(~F.col("doc_id").isin(sorted(dead)))
    cases = [
        (phrase_count(live, t1, t2), phrase_count_indexed(spark, d, t1, t2)),
        (
            proximity_count(live, t1, t2, slop=2),
            proximity_count_indexed(spark, d, t1, t2, slop=2),
        ),
    ]
    for want, got in cases:
        want = sorted(tuple(r) for r in want.collect())
        assert want
        assert sorted(tuple(r) for r in got.collect()) == want


def test_extend_refuses_an_index_with_positions(spark, transcripts, dead_index, tmp_path):
    """Neither extend path writes positions, so an extend would leave
    phrase and proximity reads blind to every new doc: it raises before
    anything is written."""
    from jvector_spark.index.extend import extend_index

    d = _copy(dead_index[0], tmp_path)
    before = _snapshot(d)
    with pytest.raises(NotImplementedError, match="positions"):
        extend_index(transcripts.limit(5), d, order_cols=["conv_id", "turn_idx"])
    assert _snapshot(d) == before
