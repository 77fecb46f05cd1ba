"""Incremental index extension: append new documents to an existing index
without rebuilding it.

Reference analog: ``GraphIndexBuilder.buildAndMergeNewNodes`` — load an
on-disk graph, insert new nodes, write a merged index
(jvector-base/.../graph/GraphIndexBuilder.java:1015-1057, surveyed B10) —
plus dictionary refresh (C4) and global-stats refresh (M2).

Design:
- new docs receive doc_ids ``[first, first + m)``, where ``first`` =
  max(n_docs, max doc_id + 1) (the doc_stats footer max; a compaction
  leaves n_docs at the live count without renumbering) — strictly above
  every existing id, so delta posting blocks cover doc ranges disjoint
  from (and after) existing blocks; WAND treats blocks independently via their
  [base, max_doc_id] ranges, so no existing block is rewritten;
- delta blocks are APPENDED into the same hive ``part_id`` buckets
  (``pmod(xxhash64(term_id, salt), n_parts)``), so query-time directory
  pruning keeps working unchanged;
- the dictionary is re-merged (df/cf updated, existing term_ids stable,
  new terms get ids above the old max) — term_id stability is the analog
  of the reference's OrdinalMapper keeping old ordinals valid;
- global stats (n_docs, avgdl) are refreshed in ``segments`` from the old
  row plus the delta's row count and Σdl (summed on the driver, or
  observed on the Spark path's doc_stats write), never by rescanning
  doc_stats — an extend costs O(delta), not
  O(corpus). Block upper bounds are DERIVED at query time from per-block
  (max_tf, min_dl) + current stats (format v2), so pre-existing blocks stay
  exactly correct under the new stats — no rescore pass (contrast B9) is
  ever needed;
- per-generation lineage rows record the delta (docs, postings, bytes) —
  the same checkpoint/metrics contract as the initial build.

Two paths, one on-disk result. A delta is *driver-sized* under the
build's own sizing rule (``storage.driver_sized``): the Catalyst size
estimate of its tokenized projection (``sizeInBytes``, known without a
job) is at most ``storage.DRIVER_MAX_INGEST_BYTES``, a cap set by the driver
body's peak memory. Such a delta runs the body a driver-sized build runs,
``build._ingest_on_driver``, with the live index as its base, in 1 Spark
job:
- one job tokenizes the delta in Catalyst (``tokens_col``) and collects it
  to the driver as Arrow, sorted by ``order_cols`` within one partition,
  so Spark's own ordering (nulls, NaN, strings) fixes the order doc ids
  follow;
- on the driver: doc ids are numbered from ``first``, the (doc_id, term,
  tf, dl) occurrences are counted with pyarrow, the vocabulary is looked
  up with a pyarrow filter on the dictionary and fresh terms are numbered
  from the footer max term_id, part ids come from the pure-Python
  ``hash_part_id``, and the blocks are encoded with the build's own
  ``encode_partition_pdf``. Every row to write is computed before the
  first file is written; a build differs only in its empty base (every
  term fresh, numbered from 0, with the salt plan) and in overwriting
  where an extend appends;
- the dictionary rewrite (:func:`_rewrite_dictionary`) is
  vocabulary-sized. A dictionary whose data files total at most
  :data:`DRIVER_MAX_DICTIONARY_BYTES` is read with pyarrow, its update rows
  matched by term, the fresh rows appended, and the result written with
  pyarrow and swapped in (no job). A larger one is joined to a local update
  relation and unioned with the fresh rows in Spark (2 jobs);
- the postings delta (one file per ``part_id=`` directory), doc_stats,
  doc_map, segments and the lineage row are written with pyarrow
  (``storage.write_local``, no job).

A delta over that memory cap, or one whose plan Spark cannot size, runs
the Spark path, the Spark side of a build, ``build._build``, with the live
index as its base (18 Spark jobs on a 400- or 2,000-turn delta with
order columns, 12 on a 150-turn one with caller ids):
- ``build._tokenized`` caches the tokenized delta (doc_id, doc_map
  columns, token array) and counts it: with ``order_cols`` the id pass
  tokenizes (``assign_dense_ids(pre_persist=...)``) and its numbered
  result is cached too; with caller doc_ids one aggregate gives the
  delta's size, its smallest id (at least ``first``) and its distinct
  count. Either way the delta's text is read once;
- doc_stats and doc_map are appended from the cache, with Σdl observed on
  the doc_stats write;
- the delta vocabulary (term, df_new, cf_new) is left-joined to the base
  dictionary's (term_id, n_salts) and collected, fresh terms are numbered
  on the driver, and the dictionary rewrite is the same function, under
  the same rule;
- postings go through the build's one exchange (one int64 per occurrence,
  sorted by the JVM) against a local term → (term_id, n_salts) relation,
  and are appended; segments and lineage are written with pyarrow.

Both paths put a delta posting in its term's last salt, ``n_salts - 1``:
every delta doc id is at least ``first`` ≥ n_docs, past the doc range the
build's ``doc_id * n_salts // n_docs`` split covers.

Caller doc ids must be unique: a repeated or null one raises
``ValueError`` on both paths before anything is written. An index with
the positional feature (``index.positions``) is refused with
``NotImplementedError`` before anything is written, as the doc layout
is: neither path writes ``positions/``, so phrase and proximity reads
would miss every extended doc.

Every query after ``extend_index`` must equal a brute-force BM25 over the
unioned corpus exactly (tests/test_extend_maintenance.py), and both paths
must write the same rows (tests/test_extend_paths.py, and at random in
tests/test_build_sides.py).
"""

from __future__ import annotations

import os
from fractions import Fraction

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import _build, _ingest_on_driver, _projection, _tokenized
from .positions import has_positions
from .storage import (
    LINEAGE_SCHEMA,
    TABLE_SCHEMAS,
    _data_files,
    arrow_rows,
    arrow_schema,
    driver_sized,
    footer_max,
    local_relation,
    read_local,
    read_segments,
    read_table,
    staged_dir,
    swap_in,
    update_segments,
    write_local,
)

# The sizing rule of the dictionary rewrite: a dictionary whose data files
# total at most this many bytes is rewritten with pyarrow on the driver,
# a larger one by a Spark join. Measured on local[4] (4 cores), a rewrite
# with 3,000 update and 300 fresh terms into a 4-file dictionary; wall is
# the median of 5 interleaved driver/Spark pairs, and peak RSS is the
# driver rewrite's, in a fresh Python process, above its level before:
#     terms  file bytes  driver  Spark  driver peak RSS
#      0.1M      0.8 MB   76 ms  715 ms          31 MB
#        1M      6.5 MB  406 ms  848 ms         121 MB
#        3M     15.3 MB  1.06 s  1.47 s         257 MB
#        6M     30.4 MB  1.81 s  2.36 s         439 MB
# The driver was faster at every size, by a margin that shrinks towards
# Spark's fixed cost of ~0.5 s, and the Spark side spreads over a cluster
# where the driver cannot. Memory sets the cap: the peak is ~15x the file
# bytes, on top of whatever the extend already holds (up to ~0.75 GB for
# the largest driver-sized delta, see storage.DRIVER_MAX_INGEST_BYTES).
# 16 MB, about 3M terms, keeps the rewrite's own peak near 0.25 GB;
# docs/SCALE.md expects 10^8-10^9 terms at scale, which stay on the Spark
# side.
DRIVER_MAX_DICTIONARY_BYTES = 1 << 24


def _dl_sum(seg: dict) -> int:
    """Σdl of the index's documents, recovered exactly from the segments row.
    ``avgdl`` is the correctly rounded ``Σdl / n_docs`` (every build, extend
    and compaction computes it so), so the exact product differs from the integer
    Σdl by at most Σdl·2⁻⁵³ — under ½ below 2⁵² tokens, where rounding it
    recovers Σdl. An index with no documents (compacted empty) has a null
    avgdl and Σdl 0."""
    n_docs = int(seg["n_docs"])
    return round(Fraction(seg["avgdl"]) * n_docs) if n_docs else 0


def _first_id(index_dir: str, n_old: int) -> int:
    """The first free doc id: above every id doc_stats holds (its footer
    max) and at least ``n_docs``. A compaction leaves n_docs at the live
    count without renumbering, so n_docs alone can be a live doc's id."""
    max_id = footer_max(index_dir, "doc_stats", "doc_id")
    return n_old if max_id is None else max(n_old, max_id + 1)


def _check_caller_ids(min_id, first: int) -> None:
    if min_id is not None and min_id < first:
        raise ValueError(
            f"extend_index: caller-provided doc_ids must be >= {first}, the "
            f"index's first free doc id; the delta's smallest is {min_id}"
        )


def _rewrite_dictionary(
    spark: SparkSession, index_dir: str, updates: list, fresh: list
) -> None:
    """Rewrite the dictionary with :func:`_resolve_vocabulary`'s update and
    fresh rows: stable term_ids, df/cf updated, fresh terms appended; the
    new table is written beside the old one and swapped in
    (``storage.swap_in``). A dictionary whose data files total at most
    :data:`DRIVER_MAX_DICTIONARY_BYTES` is rewritten with pyarrow on the
    driver (no job), a larger one by a Spark join (2 jobs)."""
    files = _data_files(index_dir, "dictionary")
    if sum(os.path.getsize(f) for f in files) <= DRIVER_MAX_DICTIONARY_BYTES:
        sch = arrow_schema(TABLE_SCHEMAS["dictionary"])
        old = read_local(index_dir, "dictionary")
        old = sch.empty_table() if old is None else old.select(sch.names).cast(sch)
        upd = arrow_rows(updates, "term string, df_new long, cf_new long")
        at = pc.index_in(old["term"], upd["term"])

        def grown(c: str):
            return pc.add(old[c], pc.fill_null(pc.take(upd[c + "_new"], at), 0))

        kept = pa.table(
            [old["term"], old["term_id"], grown("df"), grown("cf"), old["n_salts"]],
            schema=sch,
        )
        write_local(
            pa.concat_tables([kept, arrow_rows(fresh, TABLE_SCHEMAS["dictionary"])]),
            index_dir, "dictionary", mode="overwrite",
        )
        return
    upd = local_relation(spark, updates, "term string, df_new long, cf_new long")
    new_dct = (
        read_table(spark, index_dir, "dictionary")
        .join(upd, "term", "left")
        .select(
            "term",
            "term_id",
            (F.col("df") + F.coalesce(F.col("df_new"), F.lit(0))).alias("df"),
            (F.col("cf") + F.coalesce(F.col("cf_new"), F.lit(0))).alias("cf"),
            "n_salts",
        )
        .unionByName(local_relation(spark, fresh, TABLE_SCHEMAS["dictionary"]))
    )
    staged = staged_dir(index_dir, "dictionary")
    new_dct.write.mode("overwrite").parquet(staged)
    swap_in(staged, index_dir, "dictionary")


def _extend_on_driver(
    sel: DataFrame, index_dir: str, order_cols: list[str] | None,
    doc_map_cols: list[str] | None, first: int, n_parts: int, block_size: int,
) -> tuple[int, int, int, int] | None:
    """The driver path (module docstring): ``build._ingest_on_driver`` with
    the live index as its base, then the appends; new doc ids start at
    ``first``. Returns (docs, Σdl, postings, bytes), or None for an empty
    delta, which writes nothing."""
    ing = _ingest_on_driver(
        sel, "doc_id", order_cols, doc_map_cols, first, block_size,
        {"n_parts": n_parts}, base=index_dir,
    )
    if ing is None:
        return None
    if not order_cols:
        _check_caller_ids(pc.min(ing.doc_stats["doc_id"]).as_py(), first)
    _rewrite_dictionary(sel.sparkSession, index_dir, ing.updates, ing.fresh)
    for p, rows, _, _ in ing.parts:
        write_local(rows, index_dir, os.path.join("postings", f"part_id={p}"))
    write_local(ing.doc_stats, index_dir, "doc_stats")
    if ing.doc_map is not None:
        write_local(ing.doc_map, index_dir, "doc_map")
    return (ing.docs, ing.dl_sum, sum(r[2] for r in ing.parts),
            sum(r[3] for r in ing.parts))


def extend_index(
    new_corpus: DataFrame,
    index_dir: str,
    order_cols: list[str] | None = None,
    text_col: str = "text",
    doc_map_cols: list[str] | None = None,
) -> dict:
    """Append ``new_corpus`` (raw rows, no doc_id yet unless ``order_cols``
    is None and a ``doc_id`` column exists) to the index at ``index_dir``.
    With ``order_cols=None`` every caller-provided doc_id must be unique and
    at least the index's first free id, max(n_docs, max doc_id + 1); a
    repeated or smaller one raises ``ValueError`` before anything is
    written. Returns delta metrics."""
    seg = read_segments(new_corpus.sparkSession, index_dir)
    if seg.get("layout") == "doc":
        raise NotImplementedError(
            "extend_index does not support the doc-partitioned layout yet "
            "(delta ids past the last bucket have no bucket); rebuild via "
            "build_doc_partitioned"
        )
    if has_positions(index_dir):
        raise NotImplementedError(
            "extend_index does not write positions (phrase and proximity reads "
            "would miss every new doc); rebuild, then add_positions"
        )
    n_old = int(seg["n_docs"])
    n_parts = int(seg["n_parts"])
    block_size = int(seg["block_size"])
    keep = [c for c in doc_map_cols or [] if c not in ("doc_id", *(order_cols or []))]
    sel = _projection(new_corpus, text_col, [*(order_cols or ["doc_id"]), *keep])
    first = _first_id(index_dir, n_old)
    if driver_sized(sel):
        out = _extend_on_driver(
            sel, index_dir, order_cols, doc_map_cols, first, n_parts, block_size
        )
    else:
        with _tokenized(new_corpus, text_col, "doc_id", order_cols, keep,
                        first) as (toks, m, min_id):
            _check_caller_ids(min_id, first)
            out = _build(toks, index_dir, "doc_id", doc_map_cols, n_docs=m,
                         block_size=block_size, n_parts=n_parts, base=index_dir)
    if out is None:
        return {"docs_added": 0, "postings_emitted": 0, "bytes_compressed": 0}
    m, dl_sum, postings, nbytes = out

    # doc_stats now holds the old rows plus the delta's: its count(*) and
    # Σdl / n follow from the old segments row and the delta with no scan;
    # every other segments column is preserved
    n_docs = n_old + m
    avgdl = (_dl_sum(seg) + dl_sum) / n_docs
    update_segments(new_corpus.sparkSession, index_dir, n_docs=n_docs, avgdl=avgdl)
    write_local(
        arrow_rows([(-1, m, postings, nbytes, "delta")], LINEAGE_SCHEMA),
        index_dir, "build_lineage",
    )
    return {
        "docs_added": m,
        "postings_emitted": postings,
        "bytes_compressed": nbytes,
        "n_docs": n_docs,
    }
