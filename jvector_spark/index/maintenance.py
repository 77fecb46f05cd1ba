"""Index maintenance: tombstone deletes and compaction.

Reference analog: ``markNodeDeleted`` tombstones + ``removeDeletedNodes``
cleanup (jvector-base/.../graph/GraphIndexBuilder.java:681-683, 692-802,
surveyed M1/B8) and the deletion test suite (TestDeletions.java:42-159).

Semantics:
- ``delete_docs`` appends doc_ids to a ``tombstones`` table — O(deletes),
  no index rewrite. Queries mask tombstoned docs *before* top-k selection
  (a deleted doc must not occupy a result slot NOR shadow a live doc).
- ``compact_index`` physically rewrites the postings (and the positions,
  when the index has them) without tombstoned docs, shrinks
  doc_stats/doc_map, refreshes dictionary df/cf and global stats, and
  clears the tombstone set — the FreshDiskANN-style cleanup.
  doc_ids are NOT renumbered (stable external references, like the
  reference's holes-then-renumber-at-write model); density is restored by
  a full rebuild if ever needed.

Scale notes: the tombstone set is read with pyarrow on the driver and
applied as a ``doc_id NOT IN`` filter by the one reader of the relational
and positional reads (``query.live_rows``) or as a numpy mask in the WAND
kernel, on the driver or in Spark tasks. A tombstone set too
large to inline in every read's plan is the signal to run
``compact_index`` — same policy as the reference's cleanup threshold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .build import _encode_map_fn, packed_bytes_col
from .positions import has_positions, write_positions
from .query import decode_postings, decoded
from .storage import (
    LINEAGE_SCHEMA,
    POSTINGS_SCHEMA,
    arrow_rows,
    drop_table,
    lineage_totals,
    local_relation,
    part_id_col,
    read_segments,
    read_table,
    shuffle_n,
    staged_dir,
    swap_in,
    table_path,
    tombstone_ids,
    update_segments,
    write_local,
)

__all__ = ["delete_docs", "tombstone_ids", "compact_index", "set_bm25_params", "verify_index"]

TOMBSTONES = "tombstones"


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """Tombstone the given doc_ids (iterable of int or a 1-col DataFrame).
    Returns the number of tombstones appended. A Python iterable is
    deduplicated on the driver and appended as one file with pyarrow (no
    Spark job); a DataFrame is deduplicated and counted in Spark."""
    if not isinstance(doc_ids, DataFrame):
        ids = sorted({int(d) for d in doc_ids})
        if ids:
            write_local(arrow_rows([(d,) for d in ids], "doc_id long"),
                        index_dir, TOMBSTONES)
        return len(ids)
    df = doc_ids.select(
        F.col(doc_ids.columns[0]).cast("long").alias("doc_id")
    ).distinct()
    n = df.count()
    df.write.mode("append").parquet(table_path(index_dir, TOMBSTONES))
    return n


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Rewrite the index without tombstoned docs (B8 analog), on either
    layout: the blocks are re-encoded per (term_id, salt) and written to
    the layout's part (``storage.part_id_col``), so a doc-partitioned
    index keeps every block inside its bucket. The positions, when
    present, are decoded with their salt, the dead docs anti-joined off,
    and re-encoded by ``positions.write_positions`` into the same hashed
    parts. Idempotent; no-op when there are no tombstones."""
    dead = tombstone_ids(spark, index_dir)
    if not dead:
        return {"docs_removed": 0}
    seg = read_segments(spark, index_dir)
    block_size = int(seg["block_size"])
    dead_df = F.broadcast(
        local_relation(spark, [(int(d),) for d in sorted(dead)], "doc_id long")
    )

    # decode → drop dead docs → re-encode (streams through the same
    # vectorized encoder as the build, which sorts each task's rows by
    # (term, salt, doc), so blocks stay sorted and doc-range-disjoint).
    # The exchange hashes part_id alone: each part is encoded and written
    # by one task, as one file, its blocks in (term, salt, block) order
    live = decode_postings(
        spark, index_dir, extra_cols=["salt"]
    ).join(dead_df, "doc_id", "left_anti")
    enriched = live.withColumn("part_id", part_id_col(seg)).select(
        "part_id", "term_id", "salt", "doc_id", "tf", "dl"
    )
    obs = Observation("compact_metrics")
    blocks = (
        enriched.repartition(shuffle_n(enriched), "part_id")
        .mapInPandas(
            _encode_map_fn(block_size),
            schema="part_id int, " + POSTINGS_SCHEMA,
        )
        .observe(
            obs,
            F.coalesce(F.sum("n"), F.lit(0)).alias("postings"),
            F.coalesce(F.sum(packed_bytes_col()), F.lit(0)).alias("bytes"),
        )
        .sortWithinPartitions("part_id", "term_id", "salt", "block_id")
    )
    staged = staged_dir(index_dir, "postings")
    blocks.write.mode("overwrite").partitionBy("part_id").parquet(staged)
    swap_in(staged, index_dir, "postings")
    postings_live = int(obs.get["postings"])
    bytes_live = int(obs.get["bytes"])
    if has_positions(index_dir):
        occ = decoded(
            read_table(spark, index_dir, "positions"), "positions", ["term_id", "salt"]
        )
        write_positions(occ.join(dead_df, "doc_id", "left_anti"), index_dir, seg)

    # shrink doc_stats / doc_map; the live docs' count and Σdl are observed
    # on the doc_stats rewrite (the global stats refresh below needs no
    # second scan)
    def shrink(name: str, obs: Observation | None = None) -> None:
        kept = spark.read.parquet(table_path(index_dir, name)).join(
            dead_df, "doc_id", "left_anti"
        )
        if obs is not None:
            kept = kept.observe(
                obs,
                F.count("*").alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("dl_sum"),
            )
        staged = staged_dir(index_dir, name)
        kept.write.mode("overwrite").parquet(staged)
        swap_in(staged, index_dir, name)

    stats_obs = Observation("compact_doc_stats")
    shrink("doc_stats", stats_obs)
    if os.path.exists(table_path(index_dir, "doc_map")):
        shrink("doc_map")

    # refresh dictionary df/cf from the live postings (drops empty terms'
    # counts to 0 but keeps their term_ids stable)
    live2 = decode_postings(spark, index_dir)
    stats = live2.groupBy("term_id").agg(
        F.count("*").cast("long").alias("df2"),
        F.sum("tf").cast("long").alias("cf2"),
    )
    dct = read_table(spark, index_dir, "dictionary")
    new_dct = (
        dct.join(stats, "term_id", "left")
        .select(
            "term",
            "term_id",
            F.coalesce(F.col("df2"), F.lit(0)).alias("df"),
            F.coalesce(F.col("cf2"), F.lit(0)).alias("cf"),
            "n_salts",
        )
    )
    staged = staged_dir(index_dir, "dictionary")
    new_dct.write.mode("overwrite").parquet(staged)
    swap_in(staged, index_dir, "dictionary")

    # refresh global stats (all other segment columns preserved verbatim);
    # Σdl / n in Python is correctly rounded, bit-equal to Spark's avg(dl)
    # over the integer dl column; clear tombstones
    n_docs = int(stats_obs.get["n"])
    avgdl = int(stats_obs.get["dl_sum"]) / n_docs if n_docs else None
    update_segments(spark, index_dir, n_docs=n_docs, avgdl=avgdl)
    # build_lineage is REWRITTEN with post-compaction totals so verify_index
    # reconciles against what is actually on disk (a compacted index must
    # not raise a false corruption alarm against pre-compaction lineage)
    write_local(
        arrow_rows([(-1, n_docs, postings_live, bytes_live, "compacted")], LINEAGE_SCHEMA),
        index_dir, "build_lineage", mode="overwrite",
    )
    drop_table(index_dir, TOMBSTONES)
    return {
        "docs_removed": len(dead),
        "postings_live": postings_live,
        "n_docs": n_docs,
    }


def set_bm25_params(spark: SparkSession, index_dir: str, k1: float, b: float) -> dict:
    """Re-parameterize scoring without touching a single posting block —
    the format-v2 payoff of deriving block bounds at query time from
    (max_tf, min_dl) + current segment stats. Reference analog:
    ``GraphIndexBuilder.rescore`` rebuilds every edge score under a new
    score provider (GraphIndexBuilder.java:394-437, B9); here the same
    capability is one metadata row rewrite, because nothing baked the old
    (k1, b) into the index. Every query after this must equal a brute-force
    BM25 with the new parameters exactly (tested). Works on BOTH layouts:
    ``update_segments`` preserves every non-updated column, so a
    doc-partitioned index keeps its ``layout``/``bucket_width`` metadata."""
    update_segments(spark, index_dir, k1=float(k1), b=float(b))
    return {"k1": float(k1), "b": float(b)}


def verify_index(spark: SparkSession, index_dir: str) -> dict:
    """Integrity check (reference analog: CRC over written node records,
    OnDiskGraphIndexWriter.java:369, surveyed M3): recompute posting count
    and compressed-byte totals from the postings table (meta/length-only
    columns — the packed payload lengths come from Parquet without
    decoding) and reconcile against the build_lineage totals recorded at
    write time; also fold a content hash over the packed payloads so bit
    rot, not just truncation, is caught. Returns a report dict with
    ``ok``; callers decide whether to rebuild."""
    postings_expected, bytes_expected = lineage_totals(index_dir)
    p = read_table(spark, index_dir, "postings")
    got = p.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("postings"),
        F.coalesce(F.sum(packed_bytes_col()), F.lit(0)).alias("bytes"),
        # order-independent content fold: XOR of per-block xxhash64 values
        # (commutative and overflow-free, unlike a long sum under ANSI SQL)
        F.bit_xor(
            F.xxhash64("term_id", "salt", "block_id", "doc_ids_packed",
                       "tfs_packed", "dls_packed")
        ).alias("content_fold"),
    ).collect()[0]
    report = {
        "postings_expected": postings_expected,
        "postings_found": int(got["postings"] or 0),
        "bytes_expected": bytes_expected,
        "bytes_found": int(got["bytes"] or 0),
        "content_fold": int(got["content_fold"] or 0),
    }
    report["ok"] = (
        report["postings_expected"] == report["postings_found"]
        and report["bytes_expected"] == report["bytes_found"]
    )
    return report
