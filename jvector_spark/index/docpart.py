"""Document-partitioned index layout: a build-time clustering plus a part
rule.

The build cuts the corpus into ``n_buckets`` doc ranges and writes each
range's complete mini inverted index to its own ``part_id`` directory (no
posting block straddles a bucket boundary), where the term-partitioned
build (``index.build``) hashes each (term, salt) run to one part. Global
statistics (idf, avgdl, N) stay corpus-wide, so every block's scores are
exact final scores.

The layout decides how the index is stored, not how it is searched, as
the reference's one ``GraphSearcher`` searches its on-heap and on-disk
graphs (GraphSearcher.java:209-230). Reads run ``index.query``'s bodies;
the part rule (:func:`storage.postings_parts`) names every bucket for
this layout, and the scan's ``term_id`` filter skips the other terms' row
groups in each bucket file (files are sorted by term_id). A term's blocks
are doc-range disjoint across buckets, so answers carry the term
layout's score bits for the same corpus (tested). ``positions/`` is
hashed by (term_id, salt) on both layouts.

Reading through the shared body replaced a scan-side scatter (every
bucket task running every query, then a window merge of the buckets'
partial top-k). Warm ``collect()`` of ``make_query_set`` batches on the
3,000-turn test fixture, local[4], 8 buckets, median of 3 interleaved
process pairs; same rows (|Δscore| ≤ 9e-16), no more Spark input bytes:

    batch           scatter          shared body
    1 query         0.84 s, 2 jobs   0.12 s, 0 jobs
    40 queries      0.81 s, 2 jobs   0.14 s, 0 jobs
    1,000 queries   3.55 s, 2 jobs   1.21 s, 0 jobs (driver path)
    5,000 queries   13.18 s, 2 jobs  7.25 s, 3 jobs (Spark path)

Extend and compaction do not support this layout yet (both raise
``NotImplementedError``).
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import BLOCK_SIZE, BM25_B, BM25_K1
from ..functions.analysis import TOKEN_PATTERN, tokens_col
from ..operators.doc_ids import assign_dense_ids
from .build import (
    SEGMENTS_SCHEMA,
    _bg_job,
    _bg_join,
    _encode_occ_map_fn,
    exchange_row,
    packed_bytes_col,
    vocabulary,
    write_doc_stats,
)
from .query import bm25_topk_indexed
from .storage import (
    FORMAT_VERSION,
    LINEAGE_SCHEMA,
    POSTINGS_SCHEMA,
    arrow_rows,
    read_segments,
    sized_shuffle_n,
    table_path,
    write_local,
    write_table,
)


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
    steps (index.build): one cached token relation, the doc_stats pass,
    the vocabulary aggregate (the dictionary is final before the encode),
    and one corpus-sized shuffle of one-column occurrence rows, here
    routed by doc bucket. tf is counted and blocks are encoded inside the
    Arrow encoder; postings are hive-partitioned by ``bucket`` and sorted
    by (term_id, block_id) within files so bucket-local term lookups prune
    row groups."""
    keep = [c for c in (doc_map_cols or []) if c != id_col]
    toks = corpus.select(
        F.col(id_col), tokens_col(text_col).alias("_toks"), *keep
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pins: list = []
    try:
        st = write_doc_stats(toks, id_col, index_dir)
        n_docs, avgdl = int(st["n"]), float(st["avgdl"])
        bucket_width = max(1, math.ceil(n_docs / n_buckets))

        n_terms: list = []
        dct = assign_dense_ids(
            vocabulary(toks), ["term"], id_col="term_id", pins=pins, n_out=n_terms
        ).persist()
        pins.append(dct)
        # the dictionary and doc_map are independent of the encode — overlap
        # them (same _bg_job discipline as the term-partitioned build)
        jobs = [_bg_job(lambda: write_table(
            dct.select("term", "term_id", "df", "cf", F.lit(1).alias("n_salts")),
            index_dir, "dictionary",
        ))]
        if doc_map_cols:
            dm = toks.select(id_col, *doc_map_cols)
            jobs.append(_bg_job(lambda: write_table(dm, index_dir, "doc_map")))

        enriched = (
            toks.select(
                F.col(id_col).alias("doc_id"),
                F.size("_toks").alias("dl"),
                F.explode("_toks").alias("term"),
            )
            .join(F.broadcast(dct.select("term", "term_id")), "term")
            # the bucket rides in BOTH part_id (hive partitioning) and salt
            # (the encoder's grouping key): encoder groups are (term_id,
            # salt), so carrying the bucket in salt guarantees no posting
            # block ever straddles a bucket boundary even when one shuffle
            # task holds several buckets. Doc-partitioning subsumes hot-term
            # salting — a term's in-bucket run is capped at bucket_width
            # docs by layout.
            .withColumn("salt", (F.col("doc_id") / F.lit(bucket_width)).cast("int"))
        )
        salt_bits = max(1, int(n_buckets).bit_length())
        row, bits = exchange_row(enriched, int(n_terms[0]), salt_bits, st)
        if bits:
            # the bucket is extracted from tsdd at shuffle-write time, so
            # only the one packed column rides the exchange
            bucket = F.shiftright("tsdd", bits[1] + bits[2]).bitwiseAND(
                (1 << salt_bits) - 1
            )
            sort_cols = ["tsdd"]
        else:
            bucket, sort_cols = F.col("salt"), ["term_id", "salt", "doc_id"]
        obs = Observation("dp_build_metrics")
        blocks = (
            # part_id IS the bucket (== salt), so it is re-derived over the
            # block relation after encoding instead of riding every
            # occurrence row through the exchange
            row.repartition(sized_shuffle_n(row, n_docs * avgdl), bucket)
            .sortWithinPartitions(*sort_cols)
            .mapInPandas(_encode_occ_map_fn(block_size, bits), schema=POSTINGS_SCHEMA)
            .withColumn("part_id", F.col("salt"))
            .observe(
                obs,
                F.coalesce(F.sum("n"), F.lit(0)).alias("postings"),
                F.coalesce(F.sum(packed_bytes_col()), F.lit(0)).alias("bytes"),
            )
        )
        (
            blocks.sortWithinPartitions("term_id", "block_id")
            .write.mode("overwrite")
            .partitionBy("part_id")
            .parquet(table_path(index_dir, "postings"))
        )
        m = obs.get
        for job in jobs:
            _bg_join(*job)
    finally:
        for p in pins:
            p.unpersist()
        toks.unpersist()

    write_local(
        arrow_rows([(-1, n_docs, int(m["postings"]), int(m["bytes"]), "complete")],
                   LINEAGE_SCHEMA),
        index_dir, "build_lineage", mode="overwrite",
    )
    seg = (FORMAT_VERSION, n_docs, avgdl, float(k1), float(b), int(block_size),
           TOKEN_PATTERN, int(n_buckets), "doc", int(bucket_width))
    write_local(
        arrow_rows([seg], SEGMENTS_SCHEMA + ", layout string, bucket_width long"),
        index_dir, "segments", mode="overwrite",
    )
    return {
        "buckets": n_buckets,
        "postings_emitted": int(m["postings"]),
        "bytes_compressed": int(m["bytes"]),
    }


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
