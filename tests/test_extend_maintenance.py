"""Incremental extension (B10), tombstone deletes (M1) and compaction (B8):
every query over the mutated index must equal brute force over the logical
live corpus — the analog of the reference's deletion/merge test suite
(TestDeletions.java:42-159, GraphIndexBuilder.buildAndMergeNewNodes)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


def files_per_part(index_dir: str) -> list[int]:
    """The number of postings data files in each part directory."""
    from jvector_spark.index.storage import postings_files

    root = os.path.join(index_dir, "postings")
    parts = sorted(int(p.split("=")[1]) for p in os.listdir(root) if p.startswith("part_id="))
    return [len(postings_files(index_dir, [p])) for p in parts]


def _rows(df):
    return [
        (r.query_id, r.rank, r.doc_id, round(r.score, 6)) for r in df.collect()
    ]


def assert_topk_match(got_df, want_df):
    """Tie-robust top-k equality: (query, rank, score) sequences must match
    exactly; doc_ids must match wherever the rounded score is unique across
    BOTH sides of the query. Docs with equal true scores are
    interchangeable at the cutoff — which member a float-summed engine
    emits depends on partition-dependent addition order (1-ulp noise), not
    on correctness; the deterministic tie-break only binds when scores are
    bit-identical, which cross-engine float sums cannot guarantee."""
    got, want = _rows(got_df), _rows(want_df)
    from collections import Counter

    cnt = Counter((q, s) for q, _rk, _d, s in got + want)

    def canon(rows):
        return sorted(
            (q, rk, s, (d if cnt[(q, s)] == 1 else None)) for q, rk, d, s in rows
        )

    assert canon(got) == canon(want)


def _topk_rows(df):
    # kept for simple one-sided uses
    return _rows(df)


@pytest.fixture(scope="module")
def split_corpus(spark, corpus):
    """First 2000 docs = initial corpus; the rest (re-keyed raw rows) = the
    increment."""
    base = corpus.filter(F.col("doc_id") < 2000).cache()
    extra_raw = (
        corpus.filter(F.col("doc_id") >= 2000)
        .drop("doc_id")
        .cache()
    )
    base.count(), extra_raw.count()
    return base, extra_raw


@pytest.fixture(scope="module")
def qterms(spark, query_set):
    from jvector_spark.operators.topk import queries_df

    return queries_df(
        spark, [(r.query_id, list(r.terms)) for r in query_set.itertuples(index=False)]
    ).cache()


def test_extend_matches_full_rebuild_bruteforce(spark, corpus, split_corpus, qterms):
    from jvector_spark.index.build import build_index
    from jvector_spark.index.extend import extend_index
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import bm25_topk_bruteforce

    base, extra_raw = split_corpus
    d = tempfile.mkdtemp(prefix="jv_extend_")
    try:
        build_index(base, d, n_parts=3, doc_map_cols=["conv_id", "turn_idx"])
        metrics = extend_index(
            extra_raw, d, order_cols=["conv_id", "turn_idx"],
            doc_map_cols=["conv_id", "turn_idx"],
        )
        assert metrics["docs_added"] == extra_raw.count()
        assert metrics["n_docs"] == corpus.count()

        got = bm25_topk_indexed(spark, d, qterms, k=10, prune=True)
        # oracle: brute force over base ∪ extra with extend's id assignment
        from jvector_spark.operators.doc_ids import assign_dense_ids

        extra_ids = assign_dense_ids(
            extra_raw, ["conv_id", "turn_idx"], "doc_id"
        ).withColumn("doc_id", F.col("doc_id") + F.lit(2000))
        union = base.unionByName(extra_ids.select(*base.columns))
        want = bm25_topk_bruteforce(union, qterms, k=10)
        assert_topk_match(got, want)

        # unpruned path agrees too
        got2 = bm25_topk_indexed(spark, d, qterms, k=10, prune=False)
        assert_topk_match(got2, want)

        # per-turn text equality invariant survives the extension
        from jvector_spark.index.storage import read_table

        dm = read_table(spark, d, "doc_map").select(
            "doc_id",
            F.col("conv_id").alias("m_conv"),
            F.col("turn_idx").alias("m_turn"),
        )
        joined = dm.join(union.select("doc_id", "conv_id", "turn_idx"), "doc_id")
        assert (
            joined.filter(
                (F.col("m_conv") != F.col("conv_id"))
                | (F.col("m_turn") != F.col("turn_idx"))
            ).count()
            == 0
        )
        assert dm.count() == union.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_new_terms_in_delta_are_searchable(spark, split_corpus):
    from jvector_spark.index.build import build_index
    from jvector_spark.index.extend import extend_index
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import queries_df

    base, extra_raw = split_corpus
    novel = extra_raw.limit(3).withColumn(
        "text", F.concat(F.col("text"), F.lit(" qqnovelterm"))
    )
    d = tempfile.mkdtemp(prefix="jv_extend_nt_")
    try:
        build_index(base, d, n_parts=2)
        extend_index(novel, d, order_cols=["conv_id", "turn_idx"])
        q = queries_df(spark, [(0, ["qqnovelterm"])])
        got = bm25_topk_indexed(spark, d, q, k=10).collect()
        assert len(got) == 3
        assert all(r.doc_id >= 2000 for r in got)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_delete_masks_results_and_compact_rewrites(spark, corpus, qterms):
    from jvector_spark.index.build import build_index
    from jvector_spark.index.maintenance import compact_index, delete_docs
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.boolean import boolean_and_indexed, boolean_or_indexed
    from jvector_spark.operators.topk import bm25_topk_bruteforce

    small = corpus.filter(F.col("doc_id") < 1500).cache()
    d = tempfile.mkdtemp(prefix="jv_del_")
    try:
        build_index(small, d, n_parts=2)
        # tombstone every current top-1 doc → they must vanish, successors rise
        top = {
            r.query_id: r.doc_id
            for r in bm25_topk_indexed(spark, d, qterms, k=1).collect()
        }
        top1 = set(top.values())
        assert delete_docs(spark, d, top1) == len(top1)

        dead_df = spark.createDataFrame([(int(x),) for x in top1], "doc_id long")
        live = small.join(dead_df, "doc_id", "left_anti")
        # pre-compaction semantics (same as the reference: tombstones mask
        # results, global stats stay stale until cleanup): oracle scores
        # with FULL corpus stats, ranks only live docs
        from jvector_spark.operators.topk import bm25_score_all, topk

        want = topk(
            bm25_score_all(small, qterms).join(dead_df, "doc_id", "left_anti"), k=10
        )
        got = bm25_topk_indexed(spark, d, qterms, k=10, prune=True)
        assert_topk_match(got, want)
        got_unpruned = bm25_topk_indexed(spark, d, qterms, k=10, prune=False)
        assert_topk_match(got_unpruned, want)
        # the boolean reads mask the same tombstones: a query's terms
        # match its (now deleted) top-1 doc
        q0 = min(top)
        terms = [r.term for r in qterms.filter(F.col("query_id") == q0).collect()]
        for fn in (boolean_and_indexed, boolean_or_indexed):
            ids = {r.doc_id for r in fn(spark, d, terms).collect()}
            assert not ids & top1, fn.__name__

        # compaction: physically removes them; same answers, no tombstones
        m = compact_index(spark, d)
        assert m["docs_removed"] == len(top1)
        # each part is re-encoded by one task, into one file
        assert files_per_part(d) == [1, 1]
        from jvector_spark.index.maintenance import tombstone_ids

        assert tombstone_ids(spark, d) is None
        got3 = bm25_topk_indexed(spark, d, qterms, k=10, prune=True)
        # n_docs/avgdl changed after physical removal — recompute oracle
        want3 = bm25_topk_bruteforce(live, qterms, k=10)
        assert_topk_match(got3, want3)

        # deleting everything leaves empty results
        delete_docs(spark, d, {int(r.doc_id) for r in live.select("doc_id").collect()})
        assert bm25_topk_indexed(spark, d, qterms, k=10).count() == 0
        assert boolean_and_indexed(spark, d, terms).count() == 0
        assert boolean_or_indexed(spark, d, terms).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_set_bm25_params_rescores_without_rewrite(spark, corpus, tmp_path, query_set):
    """B9 rescore analog: change (k1, b) via one metadata write; queries
    must equal brute force under the NEW parameters, and no posting file
    may change (bounds are derived, never baked)."""
    import os

    from pyspark.sql import functions as F

    from jvector_spark.index.build import build_index
    from jvector_spark.index.maintenance import set_bm25_params
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.index.storage import table_path
    from jvector_spark.operators.topk import bm25_topk_bruteforce, queries_df

    d = str(tmp_path / "rescore_idx")
    build_index(corpus, d, n_parts=2)
    post_dir = table_path(d, "postings")
    before = {
        (r, f): os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(post_dir)
        for f in fs
    }
    set_bm25_params(spark, d, k1=0.9, b=0.4)
    after = {
        (r, f): os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(post_dir)
        for f in fs
    }
    assert before == after, "rescore must not touch posting files"

    qdf = queries_df(
        spark,
        list(zip(query_set["query_id"][:8], [list(t) for t in query_set["terms"][:8]])),
    )
    want = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in bm25_topk_bruteforce(corpus, qdf, k=10, k1=0.9, b=0.4).collect()
    )
    for prune in (True, False):
        got = sorted(
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in bm25_topk_indexed(spark, d, qdf, k=10, prune=prune).collect()
        )
        assert got == want, f"prune={prune}"


def test_pagination_matches_full_topk(spark, corpus, tmp_path, query_set):
    """Q9 resume analog: page 2 (offset=10, k=10) must equal ranks 11-20 of
    a single top-20 query, on both physical paths."""
    from jvector_spark.index.build import build_index
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import queries_df

    d = str(tmp_path / "page_idx")
    build_index(corpus, d, n_parts=2)
    qdf = queries_df(
        spark,
        list(zip(query_set["query_id"][:6], [list(t) for t in query_set["terms"][:6]])),
    )
    full = sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 9))
        for r in bm25_topk_indexed(spark, d, qdf, k=20).collect()
        if r.rank > 10
    )
    for prune in (True, False):
        page2 = sorted(
            (r.query_id, r.rank, r.doc_id, round(r.score, 9))
            for r in bm25_topk_indexed(
                spark, d, qdf, k=10, prune=prune, offset=10
            ).collect()
        )
        assert page2 == full, f"prune={prune}"


def test_verify_index_detects_loss(spark, corpus, tmp_path):
    """M3 checksum analog: totals reconcile after a clean build; losing a
    postings file is detected."""
    import glob
    import os

    from jvector_spark.index.build import build_index
    from jvector_spark.index.maintenance import verify_index

    d = str(tmp_path / "vidx")
    build_index(corpus.limit(800), d, n_parts=2)
    r = verify_index(spark, d)
    assert r["ok"], r
    fold_before = r["content_fold"]

    victims = glob.glob(os.path.join(d, "postings", "part_id=*", "*.parquet"))
    os.remove(victims[0])
    r2 = verify_index(spark, d)
    assert not r2["ok"]
    assert r2["content_fold"] != fold_before
