"""Document-partitioned index layout: a build-time clustering plus a part
rule.

The build cuts the corpus into ``n_buckets`` doc ranges and writes each
range's complete mini inverted index to its own ``part_id`` directory (no
posting block straddles a bucket boundary), where the term-partitioned
layout hashes each (term, salt) run to one part. It is ``index.build``'s
one pipeline (``_build``): the salt is the doc bucket, the exchange is
partitioned by it, and :func:`storage.part_id_col` maps it to its
directory. Global statistics (idf, avgdl, N) stay corpus-wide, so every
block's scores are exact final scores.

The layout decides how the index is stored, not how it is searched, as
the reference's one ``GraphSearcher`` searches its on-heap and on-disk
graphs (GraphSearcher.java:209-230). Reads run ``index.query``'s bodies;
the part rule (:func:`storage.postings_parts`) names every bucket for
this layout, and the scan's ``term_id`` filter skips the other terms' row
groups in each bucket file (files are sorted by term_id). A term's blocks
are doc-range disjoint across buckets, so answers carry the term
layout's score bits for the same corpus (tested). ``positions/`` is
hashed by (term_id, salt) on both layouts. Compaction rewrites either
layout through the shared part rule.

Extend does not support this layout yet (it raises
``NotImplementedError``): delta ids past the last bucket have no bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import BLOCK_SIZE, BM25_B, BM25_K1
from .build import _build_corpus
from .query import bm25_topk_indexed
from .storage import read_segments


def build_doc_partitioned(
    corpus: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    doc_map_cols: list[str] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    block_size: int = BLOCK_SIZE,
    n_buckets: int = 32,
) -> dict:
    """Build the doc-partitioned index with the term-partitioned build's
    pipeline (``index.build``), ``n_buckets`` doc ranges of
    ``ceil(n_docs / n_buckets)`` ids each; postings are sorted by
    (term_id, block_id) within files so bucket-local term lookups prune
    row groups. Returns the build metrics, with one lineage row per
    bucket."""
    return _build_corpus(
        corpus, index_dir, text_col, id_col, doc_map_cols, k1=k1, b=b,
        block_size=block_size, n_parts=n_buckets, layout="doc",
    )


def bm25_topk_docpart(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    k: int = 10,
    prune: bool = True,
) -> DataFrame:
    """Top-k over a doc-partitioned index: :func:`query.bm25_topk_indexed`,
    after checking the layout. Raises ``ValueError`` on a term-partitioned
    index."""
    if read_segments(spark, index_dir).get("layout") != "doc":
        raise ValueError(f"{index_dir} is not a doc-partitioned index")
    return bm25_topk_indexed(spark, index_dir, qterms, k=k, prune=prune)
