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

Job shape (22 Spark jobs on a 400-turn delta; the cost is O(delta) plus
one scan of the dictionary):
- the id pass tokenizes: ``assign_dense_ids(pre_persist=...)`` caches
  (doc_id, token array, doc_map columns), and the delta's text is never
  read again (5 jobs). With caller doc_ids (``order_cols=None``) one
  select caches the same relation, and one aggregate returns the delta's
  size and min(doc_id), which must be at least the index's n_docs;
- one ``groupBy(doc_id, term)`` gives the cached (doc_id, term, tf, dl)
  occurrences, ``dl`` as a max, so no doc_stats join is needed;
- the delta vocabulary (term, df_new, cf_new) and its existing
  (term_id, n_salts) come to the driver in ONE collect (8 jobs, most of
  them populating the two caches). The old max term_id is read from the
  dictionary's Parquet footer statistics (no job), and fresh terms are
  numbered on the driver in term order from max + 1 — the ids a dense
  rank over ``term`` would give them;
- the dictionary is rewritten as old rows joined to a local update
  relation, unioned with a local relation of fresh rows (2 jobs);
- postings are encoded against a local term → (term_id, n_salts)
  relation, in ``sized_shuffle_n`` tasks sized from the occurrence count
  Σ df_new (3 jobs);
- doc_stats, doc_map, segments and lineage are one job each.

Every query after ``extend_index`` must equal a brute-force BM25 over the
unioned corpus exactly (tested in tests/test_extend_maintenance.py).
"""

from __future__ import annotations

import os
import shutil
from fractions import Fraction

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.analysis import tokens_col
from ..operators.doc_ids import assign_dense_ids
from .build import _encode_map_fn
from .storage import (
    LINEAGE_SCHEMA,
    POSTINGS_SCHEMA,
    TABLE_SCHEMAS,
    footer_max,
    local_df,
    local_relation,
    read_segments,
    read_table,
    sized_shuffle_n,
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


def _resolve_vocabulary(vocab: list, max_tid: int | None) -> tuple[list, list, list]:
    """Split the collected delta vocabulary ``(term, df_new, cf_new,
    term_id, n_salts)`` — term_id/n_salts null for a term the dictionary
    lacks — into the dictionary's update rows ``(term, df_new, cf_new)``,
    its fresh rows ``(term, term_id, df, cf, n_salts)`` and the encode's
    ``(term, term_id, n_salts)`` map. Fresh terms are numbered in term
    order from ``max_tid + 1`` (from 0 for an empty dictionary): the ids a
    dense rank over ``term`` would give them. Python orders ``str`` by code
    point, which is the UTF-8 byte order Spark sorts strings by."""
    nxt = 0 if max_tid is None else max_tid + 1
    updates, fresh, tmap = [], [], []
    for term, df_new, cf_new, tid, n_salts in sorted(vocab, key=lambda r: r[0]):
        if tid is None:
            tid, n_salts = nxt, 1
            nxt += 1
            fresh.append((term, tid, df_new, cf_new, n_salts))
        else:
            updates.append((term, df_new, cf_new))
        tmap.append((term, tid, n_salts))
    return updates, fresh, tmap


def extend_index(
    new_corpus: DataFrame,
    index_dir: str,
    order_cols: list[str] | None = None,
    text_col: str = "text",
    doc_map_cols: list[str] | None = None,
) -> dict:
    """Append ``new_corpus`` (raw rows, no doc_id yet unless ``order_cols``
    is None and a ``doc_id`` column exists) to the index at ``index_dir``.
    With ``order_cols=None`` every caller-provided doc_id must be at least
    the index's ``n_docs``; a smaller one raises ``ValueError`` before
    anything is written. Returns delta metrics."""
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
    keep = [c for c in doc_map_cols or [] if c not in ("doc_id", *(order_cols or []))]

    cached: list = []
    try:
        # ---- tokenize once: the cached delta is (doc_id, _toks, doc_map cols)
        if order_cols:
            # the id pass tokenizes, and its per-partition counts give the
            # delta size
            n_out: list = []
            delta = assign_dense_ids(
                new_corpus, order_cols, "doc_id", pins=cached, n_out=n_out,
                pre_persist=lambda d: d.select(
                    "_pid", *order_cols, *keep, tokens_col(text_col).alias("_toks")
                ),
            ).withColumn("doc_id", F.col("doc_id") + F.lit(n_old)).persist()
            cached.append(delta)
            m = n_out[0]
        else:
            delta = new_corpus.select(
                "doc_id", *keep, tokens_col(text_col).alias("_toks")
            ).persist()
            cached.append(delta)
            m, min_id = delta.agg(F.count("*"), F.min("doc_id")).collect()[0]
            if m and min_id < n_old:
                raise ValueError(
                    f"extend_index: caller-provided doc_ids must be >= the "
                    f"index's n_docs ({n_old}); the delta's smallest is {min_id}"
                )
        if m == 0:
            return {"docs_added": 0, "postings_emitted": 0, "bytes_compressed": 0}

        # (doc_id, term, tf, dl) from one groupBy: a repeated caller row
        # sums its tf into one posting, and dl needs no doc_stats join
        occ = (
            delta.select(
                "doc_id",
                F.size("_toks").cast("long").alias("dl"),
                F.explode("_toks").alias("term"),
            )
            .groupBy("doc_id", "term")
            .agg(F.count("*").cast("long").alias("tf"), F.max("dl").alias("dl"))
            .persist()
        )
        cached.append(occ)

        # ---- resolve the dictionary once: the delta vocabulary with its
        # existing (term_id, n_salts) comes to the driver in one collect;
        # fresh terms are numbered there from the old max term_id, which the
        # dictionary's Parquet footers hold
        old_dct = read_table(spark, index_dir, "dictionary")
        vocab = (
            occ.groupBy("term")
            .agg(
                F.count("*").cast("long").alias("df_new"),
                F.sum("tf").cast("long").alias("cf_new"),
            )
            .join(old_dct.select("term", "term_id", "n_salts"), "term", "left")
            .select("term", "df_new", "cf_new", "term_id", "n_salts")
            .collect()
        )
        updates, fresh, tmap = _resolve_vocabulary(
            vocab, footer_max(index_dir, "dictionary", "term_id")
        )

        # ---- dictionary rewrite: stable term_ids, df/cf updated, fresh
        # terms appended; written to a staging dir, then swapped in
        upd = local_relation(spark, updates, "term string, df_new long, cf_new long")
        new_dct = (
            old_dct.join(upd, "term", "left")
            .select(
                "term",
                "term_id",
                (F.col("df") + F.coalesce(F.col("df_new"), F.lit(0))).alias("df"),
                (F.col("cf") + F.coalesce(F.col("cf_new"), F.lit(0))).alias("cf"),
                "n_salts",
            )
            .unionByName(local_relation(spark, fresh, TABLE_SCHEMAS["dictionary"]))
        )
        tmp = table_path(index_dir, "dictionary__new")
        new_dct.write.mode("overwrite").parquet(tmp)
        old_path = table_path(index_dir, "dictionary")
        shutil.rmtree(old_path)
        os.rename(tmp, old_path)

        # ---- encode delta postings into the same part buckets
        enriched = (
            occ.join(
                local_relation(spark, tmap, "term string, term_id long, n_salts int"),
                "term",
            )
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
        # one occurrence row per (doc, term): Σ df_new of them
        n_occ = sum(r[1] for r in vocab)
        obs = Observation("extend_metrics")
        blocks = (
            enriched.repartition(
                sized_shuffle_n(enriched, n_occ), "part_id", "term_id", "salt"
            )
            .mapInPandas(
                _encode_map_fn(block_size, carry_part_id=True),
                schema="part_id int, " + POSTINGS_SCHEMA,
            )
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
        delta.select(
            "doc_id", F.size("_toks").cast("long").alias("dl")
        ).observe(
            stats_obs,
            F.count("*").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("dl_sum"),
        ).write.mode("append").parquet(table_path(index_dir, "doc_stats"))
        if doc_map_cols:
            delta.select("doc_id", *doc_map_cols).write.mode("append").parquet(
                table_path(index_dir, "doc_map")
            )
        # doc_stats now holds the old rows plus the delta's: its count(*) and
        # avg(dl) follow from the old segments row and the observed delta
        # with no scan (Σdl / n in Python is correctly rounded, like Spark's
        # avg over the integer dl column); every other segments column is
        # preserved
        n_docs = n_old + int(stats_obs.get["n"])
        avgdl = (_dl_sum(seg) + int(stats_obs.get["dl_sum"])) / n_docs
        update_segments(spark, index_dir, n_docs=n_docs, avgdl=avgdl)

        local_df(
            spark,
            [(-1, int(m), int(mtr["postings"]), int(mtr["bytes"]), "delta")],
            LINEAGE_SCHEMA,
        ).write.mode("append").parquet(table_path(index_dir, "build_lineage"))
    finally:
        for p in cached:
            p.unpersist()
    return {
        "docs_added": int(m),
        "postings_emitted": int(mtr["postings"]),
        "bytes_compressed": int(mtr["bytes"]),
        "n_docs": n_docs,
    }
