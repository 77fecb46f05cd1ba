"""Brute-force (exact, relational) BM25 scoring and top-k.

This is the engine's *slow-path oracle* — the analog of jvector's exact
brute-force ground truth used by every recall test
(jvector-tests/.../graph/TestVectorGraph.java:626-673) and of the
exact-rerank phase (GraphSearcher.java:451-487). The index-backed WAND path
(index/query.py) must match it rank-identically.

Plan shape (scale notes):
- query set is tiny → broadcast-hash-joined against term_freq, so the
  corpus-sized side is never shuffled for the join;
- only matching (query, term, doc) contributions survive → the groupBy
  (query_id, doc_id) shuffle moves candidate rows only, not the corpus;
- global top-k per query via window row_number ≤ k — each window partition
  is one query, so the sort parallelizes across queries (and Spark's
  WindowExec sorts only candidate rows, the analog of
  TakeOrderedAndProject);
- ties broken (score desc, doc_id asc), mirroring jvector's packed
  (score, ~id) ordering (graph/NodeQueue.java:104-129).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from ..functions.bm25 import bm25_term_score_col, idf_col
from ..index.storage import local_relation
from .text_stats import doc_stats, term_freq, with_corpus_stats


def queries_df(spark, query_rows, weight_dups: bool = True) -> DataFrame:
    """Normalize a query set into (query_id, term, weight).

    ``query_rows``: iterable of (query_id, list-of-terms). Duplicate terms in
    one query become a weight (bag semantics — each occurrence contributes a
    full BM25 term score, matching fixtures.bm25_oracle). The weights are
    counted on the driver and the relation is a local Arrow one, so reading
    it back costs no Spark job.
    """
    pairs = [(int(qid), t) for qid, terms in query_rows for t in terms]
    rows = (
        [(*pair, float(n)) for pair, n in Counter(pairs).items()]
        if weight_dups
        else [(*pair, 1.0) for pair in pairs]
    )
    return local_relation(spark, rows, "query_id int, term string, weight double")


def bm25_contributions(
    tf: DataFrame,
    dstats: DataFrame,
    qterms: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
) -> DataFrame:
    """(query_id, doc_id, contrib) per (query, term, doc) match."""
    n_avg = F.broadcast(with_corpus_stats(dstats))
    # df per term computed only for queried terms: semi-restrict tf first.
    tf_q = tf.join(F.broadcast(qterms.select("term").distinct()), "term")
    dfreq = tf_q.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    return (
        tf_q.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dstats, id_col)
        .crossJoin(n_avg)
        .select(
            "query_id",
            id_col,
            (
                F.col("weight")
                * bm25_term_score_col(
                    F.col("tf"), F.col("df"), F.col("dl"),
                    F.col("n_docs"), F.col("avgdl"), k1=k1, b=b,
                )
            ).alias("contrib"),
        )
    )


def bm25_score_all(
    corpus: DataFrame,
    qterms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(query_id, doc_id, score) for every doc matching ≥1 query term."""
    tf = term_freq(corpus, text_col, id_col)
    dstats = doc_stats(corpus, text_col, id_col)
    contrib = bm25_contributions(tf, dstats, qterms, k1=k1, b=b, id_col=id_col)
    return contrib.groupBy("query_id", id_col).agg(
        F.sum("contrib").cast("double").alias("score")
    )


def topk(scored: DataFrame, k: int = 10, id_col: str = "doc_id") -> DataFrame:
    """(query_id, rank, doc_id, score): deterministic top-k per query."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score")
    )


def bm25_topk_bruteforce(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """End-to-end exact BM25 top-k (the Milestone-1 flagship path)."""
    return topk(
        bm25_score_all(corpus, qterms, text_col, id_col, k1=k1, b=b),
        k=k,
        id_col=id_col,
    )


def tfidf_topk_bruteforce(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact top-k under sublinear TF-IDF — the engine's second scoring
    function over the same posting data (Q11 analog: multiple similarity
    kernels)."""
    from ..functions.bm25 import tfidf_term_score_col

    tf = term_freq(corpus, text_col, id_col)
    dstats = doc_stats(corpus, text_col, id_col)
    n_avg = with_corpus_stats(dstats)
    tf_q = tf.join(F.broadcast(qterms.select("term").distinct()), "term")
    dfreq = tf_q.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = (
        tf_q.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(n_avg)
        .select(
            "query_id",
            id_col,
            (
                F.col("weight")
                * tfidf_term_score_col(F.col("tf"), F.col("df"), F.col("n_docs"))
            ).alias("contrib"),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("contrib").cast("double").alias("score"))
    )
    return topk(scored, k=k, id_col=id_col)


def prefix_topk_bruteforce(
    corpus: DataFrame,
    prefix: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(rank, doc_id, score) — BM25 top-k for the wildcard query
    ``prefix*``: every corpus term starting with ``prefix`` joins the query
    with weight 1 and a doc scores the SUM of its matched expansions'
    BM25 contributions (Lucene's MultiTermQuery BM25-sum rewrite). Brute
    twin of ``index.query.bm25_topk_prefix``; empty expansion → no rows.

    The expansion is vocabulary-bounded (distinct matching terms), so the
    broadcast query join of the core pipeline still applies at scale."""
    if not prefix:
        raise ValueError("prefix must be non-empty")
    qterms = (
        term_freq(corpus, text_col, id_col)
        .select("term")
        .distinct()
        .filter(F.col("term").startswith(prefix))
        .select(
            F.lit(0).alias("query_id"), "term", F.lit(1.0).alias("weight")
        )
    )
    return bm25_topk_bruteforce(
        corpus, qterms, k=k, text_col=text_col, id_col=id_col, k1=k1, b=b
    ).select("rank", id_col, "score")
