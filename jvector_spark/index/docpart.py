"""Document-partitioned index layout — the cluster-QPS architecture.

The primary (term-partitioned) layout gathers ALL of a query's posting
blocks into one task via a shuffle; that is optimal for rare-term lookups
but pays per-query data movement proportional to the matched blocks. This
module adds the classic complementary layout: partition the corpus by
doc-range into ``n_buckets`` shards, each holding a COMPLETE mini inverted
index over its own documents (all terms of a doc live in its bucket by
construction). Global statistics (idf, avgdl, N) stay corpus-wide and ride
broadcast-side, so per-bucket scores are exact final scores.

Query execution = one scan: the (tiny) query set is shipped inside the UDF
closure, every bucket answers top-k for EVERY query from local blocks via
the same two-tier Block-Max WAND kernel, and a window over the
buckets × k × queries partial results takes the global top-k — the
multi-index rerankFloor merge surveyed as Q10
(GraphSearcher.java:196-201,368-386). No per-query shuffle exists at all:
cluster QPS scales with buckets, the way jvector's QPS scales with search
threads (README.md:21-22).

Trade-offs vs the term-partitioned layout (both kept; same reasoning as
the reference offering both in-memory and on-disk search tiers):
- doc-partitioned: every query touches every bucket (term_id min/max
  row-group pruning inside buckets via the sortWithinPartitions order);
  per-bucket work is small and embarrassingly parallel → high QPS, ideal
  for query-heavy serving;
- term-partitioned: queries touch only the hive buckets holding their
  terms → minimal IO for selective queries, ideal for sparse lookup.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, Window
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
from .query import SPARSE_EXACT_LIMIT, lookup_terms, wand_topk_arrays
from .storage import (
    FORMAT_VERSION,
    LINEAGE_SCHEMA,
    POSTINGS_SCHEMA,
    arrow_rows,
    local_relation,
    read_table,
    sized_shuffle_n,
    table_path,
    tombstone_ids,
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
    """Top-k over the doc-partitioned index: broadcast the query table into
    a scan-side UDF, per-bucket Block-Max WAND for every query at once,
    global merge of the buckets' partial top-k. Results must be identical
    to the term-partitioned engine and the brute-force oracle (tested)."""
    from .storage import read_segments

    seg = read_segments(spark, index_dir)
    if seg.get("layout") != "doc":
        raise ValueError(f"{index_dir} is not a doc-partitioned index")
    k1, b_, avgdl = seg["k1"], seg["b"], seg["avgdl"]
    # tombstones mask on this layout too (M1 semantics — deleted docs must
    # neither fill nor shadow result slots); the sorted id array ships into
    # the same WAND kernel `dead` input the term-partitioned path uses
    dead_set = tombstone_ids(spark, index_dir)
    dead = np.sort(np.fromiter(dead_set, dtype=np.int64)) if dead_set else None

    # the query table is tiny (queries × terms); it is looked up on the
    # driver the way the term-partitioned engine does (pyarrow dictionary
    # read, the engine's one idf function) and shipped in the closure —
    # the per-query broadcast of idf constants surveyed as P2
    qd_rows, _ = lookup_terms(spark, index_dir, qterms, seg)
    if not qd_rows:
        return local_relation(
            spark, [], "query_id int, rank int, doc_id long, score double"
        )
    term_ids = sorted({tid for _, tid, *_ in qd_rows})
    by_query: dict = {}
    for qid, tid, weight, idf_v, _, _ in qd_rows:
        by_query.setdefault(int(qid), []).append((tid, weight, idf_v))
    by_query = {
        qid: pd.DataFrame(rows, columns=["term_id", "weight", "idf"])
        for qid, rows in by_query.items()
    }

    meta_cols = [
        "term_id", "salt", "n", "base", "max_doc_id", "max_tf", "min_dl",
        "doc_ids_packed", "tfs_packed", "dls_packed",
    ]

    def bucket_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = [p for p in it]
        if not batches:
            return
        blocks = pd.concat(batches, ignore_index=True)
        if len(blocks) == 0:
            return
        # one term→rows index per bucket; each query then gathers its
        # blocks by searchsorted slices instead of a hash merge (this loop
        # runs buckets × queries times — it is the serving hot path)
        term_arr = blocks["term_id"].to_numpy(np.int64)
        order = np.argsort(term_arr, kind="mergesort")
        sorted_terms = term_arr[order]
        out_q, out_d, out_s = [], [], []
        for qid, qt in by_query.items():
            tq = qt["term_id"].to_numpy(np.int64)
            wq = qt["weight"].to_numpy(np.float64)
            iq = qt["idf"].to_numpy(np.float64)
            row_parts, w_parts, i_parts = [], [], []
            for j in range(len(tq)):
                l = np.searchsorted(sorted_terms, tq[j], "left")
                r = np.searchsorted(sorted_terms, tq[j], "right")
                if r > l:
                    rows = order[l:r]
                    row_parts.append(rows)
                    w_parts.append(np.full(r - l, wq[j]))
                    i_parts.append(np.full(r - l, iq[j]))
            if not row_parts:
                continue
            idx = np.concatenate(row_parts)
            qb = blocks.iloc[idx].reset_index(drop=True)
            qb["weight"] = np.concatenate(w_parts)
            qb["idf"] = np.concatenate(i_parts)
            docs, scores, _dec, _skip = wand_topk_arrays(
                qb, k, k1, b_, avgdl, dead=dead,
                sparse_limit=(SPARSE_EXACT_LIMIT if prune else 2**62),
            )
            out_q.append(np.full(len(docs), qid, dtype=np.int32))
            out_d.append(docs)
            out_s.append(scores)
        if not out_q:
            return
        yield pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "doc_id": np.concatenate(out_d),
                "score": np.concatenate(out_s),
            }
        )

    postings = read_table(spark, index_dir, "postings").filter(
        F.col("term_id").isin(term_ids)
    )
    # blocks are doc-range disjoint ACROSS buckets, so the kernel can score
    # several buckets' blocks in one call — coalesce to ~cores tasks so the
    # per-(query, task) kernel invocation overhead is paid cores times, not
    # buckets times (on a cluster: one task per executor-core slice of the
    # bucket set)
    partial = postings.select(*meta_cols).coalesce(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(
        bucket_fn, schema="query_id int, doc_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
