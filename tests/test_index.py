"""Index build/query correctness: decode round-trip, indexed == brute-force
== oracle, pruned == unpruned, salted == unsalted, kill/resume, lineage
reconciliation (the analogs of the reference's on-disk round-trip, fused-vs-
unfused equality, and checkpoint tests — TestOnDiskGraphIndex.java:77-464,
TestFusedGraphIndex.java:183-235, CheckpointManager.java:33-112)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from test_local_tables import _force


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, corpus):
    from jvector_spark.index.build import build_index

    d = str(tmp_path_factory.mktemp("idx"))
    # low salt threshold so hot terms really take the salted path at test scale
    build_index(
        corpus,
        d,
        doc_map_cols=["conv_id", "turn_idx"],
        salt_threshold=64,
        target_salt_postings=64,
        n_parts=4,
    )
    return d


def test_decode_roundtrip_equals_term_freq(spark, corpus, index_dir):
    from jvector_spark.index.query import decode_postings
    from jvector_spark.operators import dictionary, term_freq

    tf = term_freq(corpus)
    dct = dictionary(tf)
    expected = (
        tf.join(dct.select("term", "term_id"), "term")
        .select("term_id", "doc_id", "tf")
        .orderBy("term_id", "doc_id")
        .collect()
    )
    got = (
        decode_postings(spark, index_dir)
        .select("term_id", "doc_id", "tf")
        .orderBy("term_id", "doc_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in expected]


def test_salting_actually_splits_hot_terms(spark, index_dir):
    from jvector_spark.index.storage import read_table

    p = read_table(spark, index_dir, "postings")
    n_salted = p.groupBy("term_id").agg(F.countDistinct("salt").alias("s")).filter("s > 1").count()
    assert n_salted > 0, "salt_threshold=64 should salt the hot Zipf head"


def test_indexed_topk_equals_bruteforce(spark, corpus, index_dir, query_set):
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import bm25_topk_bruteforce, queries_df

    qdf = queries_df(
        spark, list(zip(query_set["query_id"], [list(t) for t in query_set["terms"]]))
    )
    # cross-engine comparison → tie-robust (duplicate fixture texts give
    # bit-equal true scores whose order depends on float summation order)
    from tests.test_extend_maintenance import assert_topk_match

    want = bm25_topk_bruteforce(corpus, qdf, k=10)
    for prune in (False, True):
        got = bm25_topk_indexed(spark, index_dir, qdf, k=10, prune=prune)
        assert_topk_match(got, want)


def test_bucketed_gather_invariant_to_bucket_count(spark, index_dir, query_set, monkeypatch):
    """The bucketed WAND gather (blocks ship per query BUCKET, kernel loops
    the bucket's queries) must be EXACTLY invariant to the bucket count —
    1 bucket, per-query buckets, and the auto default all yield identical
    rows, ranks, scores, and metrics columns."""
    import jvector_spark.index.query as Q
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import queries_df

    # this batch is driver-sized; the buckets exist on the Spark path only
    monkeypatch.setattr(Q, "DRIVER_MAX_POSTINGS", 0)

    qdf = queries_df(
        spark, list(zip(query_set["query_id"], [list(t) for t in query_set["terms"]]))
    )
    nq = int(qdf.select("query_id").distinct().count())

    def rows(**kw):
        return sorted(
            (r.query_id, r.rank, r.doc_id, round(r.score, 12))
            for r in bm25_topk_indexed(spark, index_dir, qdf, k=10, **kw).collect()
        )

    def buckets(n_buckets, **kw):
        # the bucket count is min(nq, max(MIN_QUERY_BUCKETS, ⌈nq /
        # QUERIES_PER_BUCKET⌉)): one bucket per query at most
        with monkeypatch.context() as m:
            m.setattr(Q, "MIN_QUERY_BUCKETS", n_buckets)
            m.setattr(Q, "QUERIES_PER_BUCKET", nq)
            assert Q.query_buckets(nq) == min(n_buckets, nq)
            return rows(**kw)

    base = rows()
    assert base == buckets(1)
    assert base == buckets(nq)
    # pagination composes with bucketing: the page's ranks ≤ 10 must be
    # exactly the base rows at those ranks
    page = buckets(3, offset=5)
    assert [t for t in page if t[1] <= 10] == [t for t in base if t[1] > 5]


def test_paged_search_retained_state(spark, index_dir, query_set):
    """Retained-state pagination (Q9 resume, GraphSearcher.java:489-527):
    pages must tile the one-shot deep top-k exactly, in-depth pages must
    NOT re-run the kernel, and paging past the horizon must recompute
    once (geometric doubling) and release the stale persisted state."""
    from jvector_spark.index.paging import PagedSearch
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import queries_df

    qdf = queries_df(
        spark, list(zip(query_set["query_id"], [list(t) for t in query_set["terms"]]))
    )
    calls: list[int] = []

    def search(k: int):
        calls.append(k)
        return bm25_topk_indexed(spark, index_dir, qdf, k=k)

    deep = {
        (r.query_id, r.rank): (r.doc_id, round(r.score, 12))
        for r in bm25_topk_indexed(spark, index_dir, qdf, k=40).collect()
    }
    ps = PagedSearch(search, page_size=5, depth=20)
    for i in range(4):  # ranks 1..20: inside the initial horizon
        got = {
            (r.query_id, r.rank): (r.doc_id, round(r.score, 12))
            for r in ps.next_page().collect()
        }
        assert got == {kk: v for kk, v in deep.items() if 5 * i < kk[1] <= 5 * (i + 1)}
    assert calls == [20] and ps.recomputes == 1
    got = {  # rank 21-25: past the horizon -> ONE doubling recompute
        (r.query_id, r.rank): (r.doc_id, round(r.score, 12))
        for r in ps.page(4).collect()
    }
    assert got == {kk: v for kk, v in deep.items() if 20 < kk[1] <= 25}
    assert calls == [20, 40] and ps.recomputes == 2
    ps.page(0)  # back-paging stays a slice, no recompute
    assert len(calls) == 2
    ps.close()


def test_wand_prunes_blocks(spark, index_dir, query_set):
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import queries_df

    qdf = queries_df(
        spark, list(zip(query_set["query_id"], [list(t) for t in query_set["terms"]]))
    )
    m = (
        bm25_topk_indexed(spark, index_dir, qdf, k=10, prune=True, with_metrics=True)
        .groupBy("query_id")
        .agg(F.first("blocks_decoded").alias("d"), F.first("blocks_skipped").alias("s"))
        .agg(F.sum("d").alias("dec"), F.sum("s").alias("skip"))
        .collect()[0]
    )
    # pruning must actually skip work on the hot-term query mix
    assert m["skip"] > 0, (m["dec"], m["skip"])


def test_threshold_search(spark, corpus, index_dir, query_set):
    from jvector_spark.index.query import threshold_search_indexed
    from jvector_spark.operators.topk import bm25_score_all, queries_df

    qdf = queries_df(
        spark, list(zip(query_set["query_id"][:10], [list(t) for t in query_set["terms"][:10]]))
    )
    theta = 1.0
    want = sorted(
        (r.query_id, r.doc_id, round(r.score, 9))
        for r in bm25_score_all(corpus, qdf).filter(F.col("score") >= theta).collect()
    )
    got = sorted(
        (r.query_id, r.doc_id, round(r.score, 9))
        for r in threshold_search_indexed(spark, index_dir, qdf, theta).collect()
    )
    assert got == want


def test_lineage_reconciles(spark, corpus, index_dir):
    from jvector_spark.index.storage import read_table
    from jvector_spark.operators import term_freq

    lineage = read_table(spark, index_dir, "build_lineage")
    total_postings = lineage.agg(F.sum("postings_emitted")).collect()[0][0]
    assert total_postings == term_freq(corpus).count()
    assert lineage.filter("status <> 'complete'").count() == 0
    assert lineage.agg(F.sum("bytes_compressed")).collect()[0][0] > 0


def test_build_resume_after_injected_failure(spark, corpus, tmp_path, query_set,
                                            monkeypatch):
    """Resume on the Spark side, where a part's encode is a task of its
    own (the driver side's resume is in tests/test_build_sides.py)."""
    from jvector_spark.index.build import build_index

    _force(monkeypatch, "spark")
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import queries_df

    d = str(tmp_path / "idx_resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(corpus, d, n_parts=4, fail_after_parts=2)
    # resume encodes only the parts without a complete lineage row
    metrics = build_index(corpus, d, n_parts=4, resume=True)
    assert metrics["parts_built"] == 2

    qdf = queries_df(
        spark, list(zip(query_set["query_id"][:8], [list(t) for t in query_set["terms"][:8]]))
    )
    # the resumed index answers the queries
    from jvector_spark.index.storage import read_table

    resumed = sorted(
        tuple(r)
        for r in bm25_topk_indexed(spark, d, qdf, k=10, prune=True).collect()
    )
    assert len(resumed) > 0
    lineage = read_table(spark, d, "build_lineage")
    assert lineage.filter("status = 'complete'").count() == 4
    # the resumed index holds an uninterrupted build's rows in every table
    from tools.diff_index import diff_dirs

    whole = str(tmp_path / "idx_whole")
    build_index(corpus, whole, n_parts=4)
    same = diff_dirs(d, whole)
    assert len(same) == 5 and all(same.values()), same
    shutil.rmtree(d, ignore_errors=True)


def test_filtered_topk_both_paths_equal_bruteforce(spark, corpus, index_dir, query_set,
                                                   monkeypatch):
    """Bits-acceptOrds analog (Q8): top-k restricted to an accept set must
    equal brute-force scoring of only the accepted docs — on both physical
    paths (WAND id-mask and relational join), mirroring
    TestLowCardinalityFiltering.java:53-57."""
    import jvector_spark.index.query as Q
    from jvector_spark.index.query import bm25_topk_indexed_filtered
    from jvector_spark.operators.topk import bm25_score_all, queries_df
    from pyspark.sql import Window

    qdf = queries_df(
        spark, list(zip(query_set["query_id"][:10], [list(t) for t in query_set["terms"][:10]]))
    )
    accept = corpus.filter(F.col("role") == "assistant").select("doc_id")

    s = bm25_score_all(corpus, qdf).join(accept, "doc_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    want = {
        (r.query_id, r.rank): (r.doc_id, round(r.score, 9))
        for r in s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .collect()
    }
    for limit, tag in ((10**9, "wand-mask-bucketed"), (0, "relational")):
        monkeypatch.setattr(Q, "ACCEPT_BROADCAST_LIMIT", limit)
        got = {
            (r.query_id, r.rank): (r.doc_id, round(r.score, 9))
            for r in bm25_topk_indexed_filtered(
                spark, index_dir, qdf, accept, k=10
            ).collect()
        }
        assert got == want, tag


def test_oov_query_batch_returns_empty(spark, index_dir):
    """A batch whose terms all miss the dictionary must return an empty
    frame with the declared schema on the bucketed WAND path (regression:
    a bucket count of 0 → repartition(0) raised IllegalArgumentException)."""
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import queries_df

    qdf = queries_df(spark, [(0, ["zzzznotaterm"]), (1, ["alsonotaterm"])])
    out = bm25_topk_indexed(spark, index_dir, qdf, k=10, prune=True)
    assert out.columns == ["query_id", "rank", "doc_id", "score"]
    assert out.count() == 0


def test_four_column_fallback_for_wide_ids(spark, transcripts, corpus, tmp_path,
                                           monkeypatch):
    """A shard whose doc ids start at 2^55 does not fit the one-column
    tsdd exchange row beside the term and dl widths, so the build ships
    the four-column row; its postings must still decode to term_freq."""
    import jvector_spark.index.build as B
    from jvector_spark.index.query import decode_postings
    from jvector_spark.operators import term_freq

    seen = []
    encoder = B._encode_occ_map_fn

    def spy(block_size, bits):
        seen.append(bits)
        return encoder(block_size, bits)

    monkeypatch.setattr(B, "_encode_occ_map_fn", spy)
    _force(monkeypatch, "spark")
    offset = 1 << 55
    d = str(tmp_path / "wide")
    B.build_index_transcripts(
        transcripts, d, ["conv_id", "turn_idx"],
        salt_threshold=64, target_salt_postings=64, n_parts=2, id_offset=offset,
    )
    assert seen == [None]
    want = sorted(
        (r.term, r.doc_id + offset, r.tf) for r in term_freq(corpus).collect()
    )
    terms = {r.term_id: r.term for r in spark.read.parquet(d + "/dictionary").collect()}
    got = sorted(
        (terms[r.term_id], r.doc_id, r.tf)
        for r in decode_postings(spark, d).select("term_id", "doc_id", "tf").collect()
    )
    assert got == want


def test_fused_transcripts_build_equals_chained(spark, transcripts, corpus, query_set, tmp_path,
                                                monkeypatch):
    """build_index_transcripts (one cached narrow token relation, text
    dropped in the caching pass) must produce an index logically identical
    to assign_dense_ids + build_index — same segments, same decoded
    postings, same top-k. Both run the Spark side, whose caches this
    pins."""
    _force(monkeypatch, "spark")
    from pyspark.sql import functions as F

    from jvector_spark.index.build import build_index, build_index_transcripts
    from jvector_spark.index.query import bm25_topk_indexed, decode_postings
    from jvector_spark.index.storage import read_segments
    from jvector_spark.operators.topk import queries_df

    base = spark.sparkContext._jsc.getPersistentRDDs().size()
    d1 = str(tmp_path / "fused")
    build_index_transcripts(
        transcripts, d1, ["conv_id", "turn_idx"],
        doc_map_cols=["conv_id", "turn_idx"],
        salt_threshold=64, target_salt_postings=64, n_parts=4,
    )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base  # no leak
    d2 = str(tmp_path / "chained")
    build_index(
        corpus, d2, doc_map_cols=["conv_id", "turn_idx"],
        salt_threshold=64, target_salt_postings=64, n_parts=4,
    )
    assert read_segments(spark, d1) == read_segments(spark, d2)
    dec = lambda p: sorted(  # noqa: E731
        (r.term_id, r.doc_id, r.tf, r.dl)
        for r in decode_postings(spark, p).collect()
    )
    assert dec(d1) == dec(d2)
    # doc_map carries the natural key
    dm = spark.read.parquet(d1 + "/doc_map")
    assert set(dm.columns) == {"doc_id", "conv_id", "turn_idx"}
    qdf = queries_df(
        spark,
        list(zip(query_set["query_id"][:10], [list(t) for t in query_set["terms"][:10]])),
    )
    ga = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in bm25_topk_indexed(spark, d1, qdf, k=10).collect()
    )
    gb = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in bm25_topk_indexed(spark, d2, qdf, k=10).collect()
    )
    assert ga == gb
