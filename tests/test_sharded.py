"""Sharded-index tests: N independent shard builds + a vocabulary-sized
stats merge must answer BM25 queries with EXACT single-corpus scores (the
global-idf/avgdl override), merged via the rerankFloor window (Q10 analog,
GraphSearcher.java:196-201,368-386).

This is the engine's multi-executor-group deployment shape: build scales
across shard jobs with zero cross-shard traffic; only stats merge (O(vocab))
and the per-query top-k union (shards × queries × k rows) are global.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_extend_maintenance import assert_topk_match


@pytest.fixture(scope="module")
def sharded(spark, transcripts, tmp_path_factory):
    from jvector_spark.index.sharded import build_sharded

    base = str(tmp_path_factory.mktemp("sharded"))
    dirs = build_sharded(
        transcripts, base, n_shards=4, order_cols=["conv_id", "turn_idx"],
        n_parts=2, salt_threshold=256, target_salt_postings=256,
    )
    return dirs


def test_shards_are_disjoint_covering_with_global_ids(spark, transcripts, sharded):
    from jvector_spark.index.storage import read_segments, read_table

    total = 0
    seen = set()
    for d in sharded:
        seg = read_segments(spark, d)
        ids = {r.doc_id for r in read_table(spark, d, "doc_stats").collect()}
        assert len(ids) == int(seg["n_docs"])
        assert not (ids & seen)
        seen |= ids
        total += len(ids)
    assert total == transcripts.count()
    assert seen == set(range(total))  # dense global range across shards


def test_global_stats_merge(spark, transcripts, sharded):
    from jvector_spark.index.sharded import read_global_stats
    from jvector_spark.functions.analysis import tokens_col

    gstats, gdf = read_global_stats(spark, sharded)
    assert gstats["n_docs"] == transcripts.count()
    toks = transcripts.select(F.explode(tokens_col("text")).alias("term"))
    want_avgdl = toks.count() / transcripts.count()
    assert abs(gstats["avgdl"] - want_avgdl) < 1e-9
    # corpus-wide df for a common term equals the brute-force count
    tf = (
        transcripts.select(
            F.concat_ws("#", "conv_id", F.col("turn_idx")).alias("rid"),
            F.explode(tokens_col("text")).alias("term"),
        )
        .groupBy("term")
        .agg(F.count_distinct("rid").alias("df"))
    )
    want = {r.term: r.df for r in tf.filter(F.col("term").isin(["t0001", "t0042"])).collect()}
    got = {r.term: r.df for r in gdf.filter(F.col("term").isin(["t0001", "t0042"])).collect()}
    assert got == want


def test_sharded_topk_equals_single_index(spark, transcripts, sharded, tmp_path, query_set):
    """4-shard scatter-gather == one monolithic index over the same corpus,
    with ids aligned via the same (shard, conv, turn) global order."""
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.index.sharded import bm25_topk_sharded
    from jvector_spark.index.build import build_index_transcripts
    from jvector_spark.operators.topk import queries_df

    # monolithic index whose id order matches the sharded global order:
    # order by (shard id, conv_id, turn_idx)
    mono = transcripts.withColumn(
        "_shard", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")
    )
    d = str(tmp_path / "mono")
    build_index_transcripts(
        mono, d, ["_shard", "conv_id", "turn_idx"],
        n_parts=2, salt_threshold=256, target_salt_postings=256,
    )
    qdf = queries_df(
        spark,
        list(zip(query_set["query_id"][:15], [list(t) for t in query_set["terms"][:15]])),
    )
    got = bm25_topk_sharded(spark, sharded, qdf, k=10)
    want = bm25_topk_indexed(spark, d, qdf, k=10, prune=True)
    assert_topk_match(got, want)


def test_sharded_topk_pruned_equals_unpruned_per_shard(spark, sharded, query_set):
    from jvector_spark.index.sharded import bm25_topk_sharded
    from jvector_spark.operators.topk import queries_df

    qdf = queries_df(
        spark,
        list(zip(query_set["query_id"][:8], [list(t) for t in query_set["terms"][:8]])),
    )
    a = bm25_topk_sharded(spark, sharded, qdf, k=10, prune=True)
    b = bm25_topk_sharded(spark, sharded, qdf, k=10, prune=False)
    assert_topk_match(a, b)


def test_fewer_shard_values_than_shards(spark, transcripts, tmp_path, query_set):
    """One conversation over 4 shards: the empty shards are skipped (their
    id range has zero width), and the one built shard answers like a
    single index over the conversation."""
    from jvector_spark.index.build import build_index_transcripts
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.index.sharded import bm25_topk_sharded, build_sharded
    from jvector_spark.operators.topk import queries_df

    conv = transcripts.agg(F.min("conv_id")).collect()[0][0]
    one = transcripts.filter(F.col("conv_id") == conv)
    dirs = build_sharded(
        one, str(tmp_path / "sharded"), n_shards=4, order_cols=["conv_id", "turn_idx"],
        n_parts=2,
    )
    assert len(dirs) == 1
    assert sorted(p.name for p in (tmp_path / "sharded").iterdir()) == [
        dirs[0].rsplit("/", 1)[1]
    ]
    d = str(tmp_path / "single")
    build_index_transcripts(one, d, ["conv_id", "turn_idx"], n_parts=2)
    qdf = queries_df(
        spark,
        list(zip(query_set["query_id"][:10], [list(t) for t in query_set["terms"][:10]])),
    )
    got = bm25_topk_sharded(spark, dirs, qdf, k=10)
    assert got.count() > 0
    assert_topk_match(got, bm25_topk_indexed(spark, d, qdf, k=10, prune=True))
