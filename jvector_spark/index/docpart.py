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
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import BLOCK_SIZE, BM25_B, BM25_K1
from ..functions.analysis import TOKEN_PATTERN, tokens_col
from ..operators.doc_ids import assign_dense_ids
from .build import _bg_job, _bg_join, _encode_occ_map_fn
from .query import SPARSE_EXACT_LIMIT, lookup_terms, wand_topk_arrays
from .storage import (
    FORMAT_VERSION,
    POSTINGS_SCHEMA,
    local_df,
    local_relation,
    read_table,
    shuffle_n,
    sized_shuffle_n,
    table_path,
    tombstone_ids,
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
    """Build the doc-partitioned index: one corpus-sized shuffle
    (occurrences → doc_bucket), per-bucket tf aggregation + block encode
    inside the Arrow encoder, postings hive-partitioned by ``bucket`` and
    sorted by (term_id, doc_id) within files so bucket-local term lookups
    prune row groups."""
    spark = corpus.sparkSession
    from pyspark import StorageLevel

    corpus = corpus.persist()

    occ = (
        corpus.select(
            F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("_toks")
        )
        .select(
            "doc_id", F.size("_toks").alias("dl"), F.explode("_toks").alias("term")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    dl_rel = occ.groupBy("doc_id").agg(F.first("dl").cast("long").alias("dl"))
    dstats = (
        corpus.select(F.col(id_col).alias("doc_id"))
        .join(dl_rel, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("dl"), F.lit(0)).alias("dl"))
    )
    obs_stats = Observation("dp_corpus_stats")
    dstats = dstats.observe(
        obs_stats, F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        F.max("dl").alias("max_dl"),
        F.max("doc_id").alias("max_doc"), F.min("doc_id").alias("min_doc"),
    )
    write_table(dstats, index_dir, "doc_stats")
    st = obs_stats.get
    n_docs, avgdl = int(st["n"]), float(st["avgdl"])
    max_dl = int(st["max_dl"] or 0)
    max_doc, min_doc = int(st["max_doc"] or 0), int(st["min_doc"] or 0)
    bucket_width = max(1, math.ceil(n_docs / n_buckets))

    pins: list = []
    n_terms: list = []
    dct = occ.groupBy("term").agg(F.count("*").cast("long").alias("cf"))
    dct = assign_dense_ids(
        dct, ["term"], id_col="term_id", pins=pins, n_out=n_terms
    ).persist()
    # doc_map is independent of the encode critical path — overlap it
    # (same _bg_job discipline as the term-partitioned single-shot build)
    dm_thread = dm_holder = None
    if doc_map_cols:
        dm_sel = corpus.select(id_col, *doc_map_cols)
        dm_thread, dm_holder = _bg_job(
            lambda: write_table(dm_sel, index_dir, "doc_map")
        )

    enriched = (
        occ.join(F.broadcast(dct.select("term", "term_id")), "term")
        # the bucket rides in BOTH part_id (hive partitioning) and salt
        # (the encoder's grouping key): encoder groups are (term_id, salt),
        # so carrying the bucket in salt guarantees no posting block ever
        # straddles a bucket boundary even when one shuffle task holds
        # several buckets. Doc-partitioning subsumes hot-term salting — a
        # term's in-bucket run is capped at bucket_width docs by layout.
        .withColumn(
            "salt", (F.col("doc_id") / F.lit(bucket_width)).cast("int")
        )
    )
    # same PACKED two-int64 exchange row as build.py (see the narrated
    # rationale there): ts = term_id << salt_bits | bucket, dd = doc_id <<
    # dl_bits | dl. The repartition expression extracts the bucket from ts
    # at shuffle-write time — routing is computed map-side, so only the
    # two packed columns ride the corpus-sized exchange.
    vocab_n = n_terms[0]  # from assign_dense_ids' own count collect
    salt_bits = max(1, int(n_buckets).bit_length())
    dl_bits = max(1, max(max_dl, 1).bit_length())
    packable = (
        min_doc >= 0
        and ((vocab_n - 1) << salt_bits) + (1 << salt_bits) - 1 < (1 << 63)
        and (max_doc << dl_bits) + max_dl < (1 << 63)
    )
    if packable:
        enriched = enriched.select(
            (F.shiftleft("term_id", salt_bits)
             + F.col("salt").cast("long")).alias("ts"),
            (F.shiftleft(F.col("doc_id"), dl_bits) + F.col("dl")).alias("dd"),
        )
        part_expr = [F.col("ts").bitwiseAND(F.lit((1 << salt_bits) - 1))]
        sort_cols = ["ts", "dd"]
        encode_fn = _encode_occ_map_fn(
            block_size, presorted=True, carry_part_id=False,
            packed_bits=(salt_bits, dl_bits),
        )
    else:
        enriched = enriched.select("term_id", "salt", "doc_id", "dl")
        part_expr = [F.col("salt")]
        sort_cols = ["term_id", "salt", "doc_id"]
        encode_fn = _encode_occ_map_fn(
            block_size, presorted=True, carry_part_id=False
        )
    obs = Observation("dp_build_metrics")
    blocks = (
        # JVM-side Tungsten sort feeds the worker run-length-ready input —
        # same presorted fast path as the term-partitioned build. part_id
        # IS the bucket (== salt), so it is re-derived over the block
        # relation after encoding instead of riding every occurrence row
        # through the exchange (same minimal-row rationale as build.py).
        enriched.repartition(
            sized_shuffle_n(enriched, n_docs * avgdl), *part_expr
        )
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(encode_fn, schema=POSTINGS_SCHEMA)
        .withColumn("part_id", F.col("salt"))
        .observe(
            obs,
            F.coalesce(F.sum("n"), F.lit(0)).alias("postings"),
            (
                F.coalesce(F.sum(F.length("doc_ids_packed")), F.lit(0))
                + F.coalesce(F.sum(F.length("tfs_packed")), F.lit(0))
                + F.coalesce(F.sum(F.length("dls_packed")), F.lit(0))
            ).alias("bytes"),
        )
    )
    (
        blocks.sortWithinPartitions("term_id", "block_id")
        .write.mode("overwrite")
        .partitionBy("part_id")
        .parquet(table_path(index_dir, "postings"))
    )
    m = obs.get

    # lineage + segments depend only on the already-observed encode
    # metrics — overlap them with the dictionary finalize (same _bg_job
    # overlap as the term-partitioned single-shot build)
    def _write_meta() -> None:
        local_df(
            spark,
            [(-1, n_docs, int(m["postings"]), int(m["bytes"]), "complete")],
            "part_id int, docs_indexed long, postings_emitted long, "
            "bytes_compressed long, status string",
        ).write.mode("overwrite").parquet(table_path(index_dir, "build_lineage"))
        seg = local_df(
            spark,
            [
                (
                    FORMAT_VERSION, n_docs, avgdl, float(k1), float(b),
                    int(block_size), TOKEN_PATTERN, int(n_buckets), "doc",
                    int(bucket_width),
                )
            ],
            "format_version int, n_docs long, avgdl double, k1 double, "
            "b double, block_size int, token_pattern string, n_parts int, "
            "layout string, bucket_width long",
        )
        write_table(seg, index_dir, "segments")

    meta_thread, meta_holder = _bg_job(_write_meta)

    dfreq = (
        read_table(spark, index_dir, "postings")
        .groupBy("term_id")
        .agg(F.sum("n").cast("long").alias("df"))
    )
    dct_final = dct.join(dfreq, "term_id").select(
        "term", "term_id", "df", "cf", F.lit(1).alias("n_salts")
    )
    write_table(dct_final, index_dir, "dictionary")
    _bg_join(meta_thread, meta_holder)
    if dm_thread is not None:
        _bg_join(dm_thread, dm_holder)
    dct.unpersist()
    occ.unpersist()
    for p in pins:
        p.unpersist()
    corpus.unpersist()
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
    n_tasks: int | None = None,
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
    if n_tasks is None:
        n_tasks = spark.sparkContext.defaultParallelism
    partial = postings.select(*meta_cols).coalesce(int(n_tasks)).mapInPandas(
        bucket_fn, schema="query_id int, doc_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
