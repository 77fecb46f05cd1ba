"""Boolean retrieval: conjunctive / disjunctive candidate generation.

Reference analog: posting-list traversal during beam search (surveyed Q2,
GraphSearcher.java:387-437) — here expressed as set algebra over the
term-frequency relation. Both are pure aggregations: a semi-restricted
groupBy, no UDFs, no corpus shuffle (the term filter broadcasts).
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.storage import local_relation
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
    """Decoded live postings of ``terms`` only, with directory-level part
    pruning — the index-backed candidate generator (reads Σ blocks(terms)
    bytes regardless of corpus size, vs the brute-force path's full scan).
    The terms are looked up with a pyarrow filter on the dictionary and
    their part ids resolved driver-side (:func:`storage.postings_parts`,
    either layout), so no Spark job runs before the read; tombstoned docs
    are masked like every indexed read."""
    from ..index.query import _decode_map_fn, _mask_tombstones, _postings_scan
    from ..index.storage import postings_parts, read_dictionary, read_segments

    seg = read_segments(spark, index_dir)
    rows = read_dictionary(index_dir, pc.field("term").isin(sorted(set(terms)))).to_pylist()
    if not rows:
        return local_relation(spark, [], "term_id long, doc_id long, tf long, dl long")
    parts = postings_parts(seg, ((r["term_id"], r["n_salts"]) for r in rows))
    postings = _postings_scan(spark, index_dir, parts, sorted(r["term_id"] for r in rows))
    decoded = postings.select(
        "term_id", "n", "base", "doc_ids_packed", "tfs_packed", "dls_packed"
    ).mapInPandas(
        _decode_map_fn(["term_id"]), schema="term_id long, doc_id long, tf long, dl long"
    )
    return _mask_tombstones(spark, index_dir, decoded)


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
