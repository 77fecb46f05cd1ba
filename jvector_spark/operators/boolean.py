"""Boolean retrieval: conjunctive / disjunctive candidate generation.

Reference analog: posting-list traversal during beam search (surveyed Q2,
GraphSearcher.java:387-437) — here expressed as set algebra over the
term-frequency relation. Both are pure aggregations: a semi-restricted
groupBy, no UDFs, no corpus shuffle (the term filter broadcasts). The
indexed twins aggregate the same way over the queried terms' live
postings, read by the index's one reader (``index.query.live_rows``), so
a tombstoned doc is masked as in every indexed read.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.query import live_rows
from ..index.storage import local_relation, read_dictionary
from .text_stats import term_freq


def _matches(corpus: DataFrame, terms: list[str], text_col: str, id_col: str) -> DataFrame:
    tf = term_freq(corpus, text_col, id_col)
    terms_df = local_relation(
        corpus.sparkSession, [(t,) for t in sorted(set(terms))], "term string"
    )
    return tf.join(F.broadcast(terms_df), "term")


def boolean_and(
    corpus: DataFrame, terms: list[str], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """doc_ids containing ALL of ``terms`` (conjunctive AND)."""
    n = len(set(terms))
    return (
        _matches(corpus, terms, text_col, id_col)
        .groupBy(id_col)
        .agg(F.countDistinct("term").alias("_nt"))
        .filter(F.col("_nt") == n)
        .select(id_col)
    )


def boolean_or(
    corpus: DataFrame, terms: list[str], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """doc_ids containing ANY of ``terms`` (disjunctive OR)."""
    return _matches(corpus, terms, text_col, id_col).select(id_col).distinct()


def _matches_indexed(spark, index_dir: str, terms: list[str]) -> DataFrame:
    """(term_id, doc_id, tf, dl): the live postings of ``terms``, the
    index-backed candidate generator (reads Σ blocks(terms) bytes
    regardless of corpus size, vs the brute-force path's full scan). The
    terms are looked up with a pyarrow filter on the dictionary, so no
    Spark job runs before the read, and their rows come from the one
    reader, ``index.query.live_rows``, which masks tombstoned docs."""
    rows = read_dictionary(index_dir, pc.field("term").isin(sorted(set(terms))))
    pairs = zip(rows["term_id"].to_pylist(), rows["n_salts"].to_pylist())
    return live_rows(spark, index_dir, "postings", pairs)


def boolean_and_indexed(spark, index_dir: str, terms: list[str]) -> DataFrame:
    """Index-backed conjunctive AND: doc_ids containing ALL terms."""
    n = len(set(terms))
    m = _matches_indexed(spark, index_dir, terms)
    return (
        m.groupBy("doc_id")
        .agg(F.countDistinct("term_id").alias("_nt"))
        .filter(F.col("_nt") == n)
        .select("doc_id")
    )


def boolean_or_indexed(spark, index_dir: str, terms: list[str]) -> DataFrame:
    """Index-backed disjunctive OR: doc_ids containing ANY term."""
    return _matches_indexed(spark, index_dir, terms).select("doc_id").distinct()
