"""Incremental index extension: append new documents to an existing index
without rebuilding it.

Reference analog: ``GraphIndexBuilder.buildAndMergeNewNodes`` — load an
on-disk graph, insert new nodes, write a merged index
(jvector-base/.../graph/GraphIndexBuilder.java:1015-1057, surveyed B10) —
plus dictionary refresh (C4) and global-stats refresh (M2).

Design:
- new docs receive doc_ids ``[n_docs, n_docs + m)`` — strictly above every
  existing id, so delta posting blocks cover doc ranges disjoint from (and
  after) existing blocks; WAND treats blocks independently via their
  [base, max_doc_id] ranges, so no existing block is rewritten;
- delta blocks are APPENDED into the same hive ``part_id`` buckets
  (``pmod(xxhash64(term_id, salt), n_parts)``), so query-time directory
  pruning keeps working unchanged;
- the dictionary is re-merged (df/cf updated, existing term_ids stable,
  new terms get ids above the old max) — term_id stability is the analog
  of the reference's OrdinalMapper keeping old ordinals valid;
- global stats (n_docs, avgdl) are refreshed in ``segments`` from the old
  row plus the delta's row count and Σdl (observed on the delta's doc_stats
  write), never by rescanning doc_stats — an extend costs O(delta), not
  O(corpus). Block upper bounds are DERIVED at query time from per-block
  (max_tf, min_dl) + current stats (format v2), so pre-existing blocks stay
  exactly correct under the new stats — no rescore pass (contrast B9) is
  ever needed;
- per-generation lineage rows record the delta (docs, postings, bytes) —
  the same checkpoint/metrics contract as the initial build.

Every query after ``extend_index`` must equal a brute-force BM25 over the
unioned corpus exactly (tested in tests/test_extend_maintenance.py).
"""

from __future__ import annotations

import os
import shutil
from fractions import Fraction

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.doc_ids import assign_dense_ids
from ..operators.text_stats import doc_stats, term_freq
from .build import _encode_map_fn
from .storage import (
    LINEAGE_SCHEMA,
    POSTINGS_SCHEMA,
    local_df,
    read_segments,
    read_table,
    shuffle_n,
    table_path,
    update_segments,
)


def _dl_sum(seg: dict) -> int:
    """Σdl of the index's documents, recovered exactly from the segments row.
    ``avgdl`` is the correctly rounded ``Σdl / n_docs`` (Spark's ``avg`` over
    the integer dl column), so the exact product differs from the integer
    Σdl by at most Σdl·2⁻⁵³ — under ½ below 2⁵² tokens, where rounding it
    recovers Σdl. An index with no documents (compacted empty) has a null
    avgdl and Σdl 0."""
    n_docs = int(seg["n_docs"])
    return round(Fraction(seg["avgdl"]) * n_docs) if n_docs else 0


def extend_index(
    new_corpus: DataFrame,
    index_dir: str,
    order_cols: list[str] | None = None,
    text_col: str = "text",
    doc_map_cols: list[str] | None = None,
) -> dict:
    """Append ``new_corpus`` (raw rows, no doc_id yet unless ``order_cols``
    is None and a ``doc_id`` column exists) to the index at ``index_dir``.
    Returns delta metrics."""
    spark = new_corpus.sparkSession
    seg = read_segments(spark, index_dir)
    if seg.get("layout") == "doc":
        raise NotImplementedError(
            "extend_index does not support the doc-partitioned layout yet "
            "(delta docs would need bucket-aligned part_ids, not the "
            "(term_id, salt) hash); rebuild via build_doc_partitioned"
        )
    n_old = int(seg["n_docs"])
    n_parts = int(seg["n_parts"])
    block_size = int(seg["block_size"])

    pins: list = []
    if order_cols:
        # the id pass's per-partition counts already give the delta size
        n_out: list = []
        delta = assign_dense_ids(
            new_corpus, order_cols, "doc_id", pins=pins, n_out=n_out
        ).withColumn("doc_id", F.col("doc_id") + F.lit(n_old)).persist()
        m = n_out[0]
    else:
        delta = new_corpus.persist()  # caller-provided doc_id must be >= n_old
        m = delta.count()
    if m == 0:
        delta.unpersist()
        for p in pins:
            p.unpersist()
        return {"docs_added": 0, "postings_emitted": 0, "bytes_compressed": 0}

    tf_new = term_freq(delta, text_col, "doc_id")
    dstats_new = doc_stats(delta, text_col, "doc_id")

    # ---- dictionary merge: stable term_ids, df/cf updated, new terms appended
    old_dct = read_table(spark, index_dir, "dictionary")
    max_tid = old_dct.agg(F.max("term_id")).collect()[0][0]
    delta_terms = tf_new.groupBy("term").agg(
        F.count("*").cast("long").alias("df_new"),
        F.sum("tf").cast("long").alias("cf_new"),
    )
    joined = old_dct.join(delta_terms, "term", "full_outer")
    existing = joined.filter(F.col("term_id").isNotNull()).select(
        "term",
        "term_id",
        (F.col("df") + F.coalesce(F.col("df_new"), F.lit(0))).alias("df"),
        (F.col("cf") + F.coalesce(F.col("cf_new"), F.lit(0))).alias("cf"),
        "n_salts",
    )
    fresh = (
        joined.filter(F.col("term_id").isNull())
        .select("term", F.col("df_new").alias("df"), F.col("cf_new").alias("cf"))
    )
    fresh = assign_dense_ids(fresh, ["term"], id_col="term_id", pins=pins).select(
        "term",
        (F.col("term_id") + F.lit(int(max_tid) + 1)).alias("term_id"),
        "df",
        "cf",
        F.lit(1).alias("n_salts"),
    )
    new_dct = existing.unionByName(fresh)
    # overwrite via temp + swap is unnecessary on Parquet dirs here: write to
    # a staging dir then atomically rename (Iceberg would make this a
    # snapshot commit)
    tmp = table_path(index_dir, "dictionary__new")
    new_dct.write.mode("overwrite").parquet(tmp)
    old_path = table_path(index_dir, "dictionary")
    shutil.rmtree(old_path)
    os.rename(tmp, old_path)
    dct = read_table(spark, index_dir, "dictionary")

    # ---- encode delta postings into the same part buckets
    enriched = (
        tf_new.join(dct.select("term", "term_id", "n_salts"), "term")
        .join(dstats_new, "doc_id")
        .withColumn(
            "salt",
            F.least(
                (F.col("doc_id") * F.col("n_salts") / F.lit(n_old)).cast("int"),
                F.col("n_salts") - 1,
            ).cast("int"),
        )
        .withColumn(
            "part_id",
            F.pmod(F.xxhash64("term_id", "salt"), F.lit(n_parts)).cast("int"),
        )
        .select("part_id", "term_id", "salt", "doc_id", "tf", "dl")
    )
    obs = Observation("extend_metrics")
    blocks = (
        enriched.repartition(shuffle_n(enriched), "part_id", "term_id", "salt")
        .mapInPandas(_encode_map_fn(block_size, carry_part_id=True), schema="part_id int, " + POSTINGS_SCHEMA)
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
    blocks.write.mode("append").partitionBy("part_id").parquet(
        table_path(index_dir, "postings")
    )
    mtr = obs.get

    # ---- append doc_stats / doc_map, refresh segments stats
    stats_obs = Observation("extend_doc_stats")
    dstats_new.observe(
        stats_obs,
        F.count("*").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("dl_sum"),
    ).write.mode("append").parquet(table_path(index_dir, "doc_stats"))
    if doc_map_cols:
        delta.select("doc_id", *doc_map_cols).write.mode("append").parquet(
            table_path(index_dir, "doc_map")
        )
    # doc_stats now holds the old rows plus the delta's: its count(*) and
    # avg(dl) follow from the old segments row and the observed delta with
    # no scan (Σdl / n in Python is correctly rounded, like Spark's avg over
    # the integer dl column); every other segments column is preserved
    n_docs = n_old + int(stats_obs.get["n"])
    avgdl = (_dl_sum(seg) + int(stats_obs.get["dl_sum"])) / n_docs
    update_segments(spark, index_dir, n_docs=n_docs, avgdl=avgdl)

    local_df(
        spark,
        [(-1, int(m), int(mtr["postings"]), int(mtr["bytes"]), "delta")],
        LINEAGE_SCHEMA,
    ).write.mode("append").parquet(table_path(index_dir, "build_lineage"))
    delta.unpersist()
    for p in pins:
        p.unpersist()
    return {
        "docs_added": int(m),
        "postings_emitted": int(mtr["postings"]),
        "bytes_compressed": int(mtr["bytes"]),
        "n_docs": n_docs,
    }
