"""Inverted-index build pipeline (SURVEY.md §3.1 Spark translation).

``build_index``, ``build_index_transcripts`` and the doc-partitioned
layout's ``docpart.build_doc_partitioned`` run one build with two sides
and one commit tail (reference analog: GraphIndexBuilder.build → cleanup
→ write, jvector-base/.../graph/GraphIndexBuilder.java:439-511; a build
inserts nodes into an empty graph, as an extend inserts more,
GraphIndexBuilder.java:591-662). The side is decided once, before
anything is tokenized or cached, by the sizing rule extends use too
(``storage.driver_sized``, ``storage.DRIVER_MAX_INGEST_BYTES``).

**The driver side** (:func:`_build_on_driver`) is an extend into an empty
index: :func:`_ingest_on_driver`, the body ``extend_index``'s driver path
also runs, with no base. One job tokenizes the corpus and collects it to
the driver as Arrow (sorted by the order columns, which the ids follow);
tf, dl, df and cf are counted with pyarrow; every term is fresh, numbered
in term order from 0 with the salt plan below; the salt and part id of
each posting are computed as the Spark side's expressions compute them
(``hash_part_id``, or the doc bucket); ``encode_partition_pdf`` encodes
the blocks. Every row is computed before the first file is written, and
every table is overwritten with pyarrow (``write_local``: staged and
swapped in), one postings file per ``part_id=`` directory. 1 Spark job.

**The Spark side** (:func:`_build`) runs for larger inputs, builds and
extends alike:

  1. **Tokenize and count once** (:func:`_tokenized`) into a cached narrow
     relation (doc id, token array [, doc_map columns]), populated by the
     job that counts it: with order columns the id pass tokenizes
     (``assign_dense_ids(pre_persist=…)``) and its per-partition counts
     give the size; with caller ids one aggregate gives the size, the
     smallest id and the distinct count. Every later step re-derives what
     it needs from the cached arrays. The size is known before the first
     write, so an empty input writes nothing.
  2. **doc_stats** is ``size(tokens)``; Σdl and the id and length maxima
     are observed on its write, which overlaps the vocabulary. avgdl is
     Σdl / n, the rule of the driver side, of extends and of compaction
     (the bits of Spark's ``avg(dl)`` for integer dl below 2⁵³; a null
     text's null dl counts in n and adds nothing). doc_map is written
     beside it.
  3. **Vocabulary**: one aggregate over ``posexplode(array_sort(tokens))``
     gives cf (occurrences) and df (a term's first occurrence in its doc's
     sorted array), so no ``countDistinct`` expansion runs; df counts
     rows, which is why caller doc ids must be unique (a repeated or null
     one raises ``ValueError`` on both sides). Term ids are a dense rank
     in term order, and the salt plan derives from df. The dictionary is
     final before the encode.
  4. **One exchange**: each occurrence travels as one int64, ``tsdd`` =
     (term_id, salt, doc_id, dl) packed at driver-chosen widths, so the
     JVM's sort on it IS the (term_id, salt, doc_id) order. The Arrow
     encoder counts tf over runs and emits fused posting blocks
     (delta+varint doc gaps, varint tfs + dls inline, (max_tf, min_dl)
     block-max metadata — score bounds derive from these at query time),
     hive-partitioned by ``part_id``, the layout's part rule
     (``storage.part_id_col``): a deterministic hash bucket of (term_id,
     salt) on the term layout; the salt itself on the doc layout, whose
     salt is the doc bucket. When the widths do not fit 63 bits, the four
     columns travel instead.

An extend is :func:`_build` with ``base``, the live index, as the driver
side is :func:`_ingest_on_driver` with one. It differs from a build in
four places: the delta vocabulary is left-joined to the base dictionary
and collected, fresh terms are numbered from its footer max term id
(:func:`_resolve_vocabulary`) and the dictionary is rewritten (extend's
``_rewrite_dictionary``); the exchange's term width is the max term id + 1
and its salt width the delta's largest ``n_salts``; each posting goes to
its term's last salt, ``n_salts - 1``; doc_stats, doc_map and postings are
appended, and instead of the commit the delta's (docs, Σdl, postings,
bytes) go back to ``extend_index``.

**Commit** (:func:`_commit`, both sides): one ``build_lineage`` row per
part (per doc bucket on the doc layout), with its postings and bytes
(observed during the Spark side's write, counted on the driver side's
blocks), honouring ``fail_after_parts``, then ``segments``, the
completion marker; both are written with pyarrow. Both sides write the
same rows in every table (tests/test_build_sides.py). An empty corpus
raises ``ValueError("empty corpus …")`` on both sides, before any write.

Resume (analog of OnHeapGraphIndex save/load + CheckpointManager.java:33-112,
B11/B12): a resumed build encodes only the parts that have no complete
lineage row and overwrites only their directories (the driver side
encodes every part, and writes only those); every other table is
rewritten with the same rows. The resumed index equals an uninterrupted
build (tested on both sides).

Skew (SURVEY.md P11): a term with df > ``salt_threshold`` is split into
``n_salts = ceil(df / target_salt_postings)`` doc-range sub-lists — salt
= ``least(int(local * n_salts / n_docs), n_salts - 1)`` in doubles, where
``local = doc_id - id_offset`` — so a hot term's postings land in
multiple shuffle groups. Doc-range (not hash)
salting keeps every (term, salt) run sorted and doc-disjoint, which the
WAND query path exploits for block skipping.

Scale notes: per-posting dl is stored inline in each block (varint, ~1
byte) so query-time exact scoring never joins the corpus-sized doc_stats
table — the fused-feature trick (FusedPQ.java:75-122). The only
corpus-sized shuffle in the whole build is the encode exchange; the
vocabulary aggregate combines map-side.
"""

from __future__ import annotations

import math
import os
import threading
import time
from contextlib import contextmanager
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from .. import BLOCK_SIZE, BM25_B, BM25_K1
from ..functions.analysis import TOKEN_PATTERN, tokens_col
from ..operators.doc_ids import assign_dense_ids
from .codec import block_layout, pack_blocks
from .storage import (
    FORMAT_VERSION,
    LINEAGE_SCHEMA,
    POSTINGS_SCHEMA,
    TABLE_SCHEMAS,
    arrow_rows,
    arrow_schema,
    driver_sized,
    footer_max,
    hash_part_id,
    lineage_totals,
    local_relation,
    part_id_col,
    read_dictionary,
    read_local,
    read_table,
    sized_shuffle_n,
    table_path,
    write_local,
    write_local_parts,
    write_table,
)

SEGMENTS_SCHEMA = (
    "format_version int, n_docs long, avgdl double, k1 double, b double, "
    "block_size int, token_pattern string, n_parts int"
)

# Arrow batch rows for the encode exchange: occurrence rows are 8 bytes
# wide, so a batch is ~1 MB — far fewer IPC round-trips and less allocator
# churn per partition than the session default
ENCODE_ARROW_BATCH = 131072

# serializes the session-global Arrow batch-size override around the encode
# write across threads sharing a SparkSession
_ARROW_BATCH_LOCK = threading.Lock()

def _bg_job(fn) -> "tuple[threading.Thread, list]":
    """Submit an independent Spark job from a background thread.

    Serial driver-side job submission is an Amdahl tax the 4×-parallelism
    leg pays and the 1× leg does not: while one small write's tasks drain,
    the other quota'd cores idle (measured hi-leg core utilization
    0.88–0.92 with everything serial). A real cluster driver submits
    independent jobs concurrently and lets the scheduler fill idle slots —
    same outputs, byte-for-byte, since the overlapped jobs share no
    dependency. ``InheritableThread`` propagates job-group/local properties
    and cooperates with py4j pinned-thread mode. Errors re-raise on join
    via the returned holder.
    """
    from pyspark import InheritableThread

    holder: list = []

    def run() -> None:
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — re-raised on join
            holder.append(e)

    t = InheritableThread(target=run, daemon=True)
    t.start()
    return t, holder


def _bg_join(t: "threading.Thread", holder: list) -> None:
    t.join()
    if holder:
        raise holder[0]


def encode_partition_pdf(
    pdf: pd.DataFrame, block_size: int = BLOCK_SIZE, carry_part_id: bool = False,
) -> pd.DataFrame:
    """Vectorized block encoder for one (already filtered) partition of the
    enriched tf relation. Expects columns term_id, salt, doc_id, tf, dl
    (plus part_id when ``carry_part_id``); rows may arrive unsorted. Emits
    one row per posting block with (max_tf, min_dl) block-max metadata —
    the query derives the BM25 upper bound from these plus *current*
    global stats, so bounds stay exact after incremental extends/compacts
    change n_docs/avgdl (format v2; no baked score bound to go stale).

    Everything except the final per-block byte slicing is numpy-vectorized
    across the whole partition — the Arrow-batch equivalent of the
    reference's SIMD bulk kernels (PanamaVectorUtilSupport.java).
    """
    if len(pdf) == 0:
        return _empty_postings_pdf(carry_part_id)
    pdf = pdf.sort_values(["term_id", "salt", "doc_id"], kind="mergesort")
    term = pdf["term_id"].to_numpy(np.int64)
    salt = pdf["salt"].to_numpy(np.int32)
    d = pdf["doc_id"].to_numpy(np.int64)
    tf = pdf["tf"].to_numpy(np.int64)
    dl = pdf["dl"].to_numpy(np.int64)
    part = pdf["part_id"].to_numpy(np.int32) if carry_part_id else None
    out = _encode_sorted_arrays(term, salt, d, tf, dl, part, block_size)
    res = pd.DataFrame(out)
    res["salt"] = res["salt"].astype("int32")
    if carry_part_id:
        res["part_id"] = res["part_id"].astype("int32")
    return res


def _encode_sorted_arrays(
    term: np.ndarray,
    salt: np.ndarray,
    d: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    part: np.ndarray | None,
    block_size: int,
) -> dict:
    """Array core of :func:`encode_partition_pdf`: input pre-sorted by
    (term, salt, doc); returns the posting-block columns as a plain dict
    (``part_id`` first when ``part`` is given)."""
    starts, ends, block_id, gaps, base = block_layout(term, salt, d, block_size)
    out = {
        "term_id": term[starts],
        "salt": salt[starts],
        "block_id": block_id,
        "n": (ends - starts).astype(np.int32),
        "base": base,
        "max_doc_id": d[ends - 1],
        "max_tf": np.maximum.reduceat(tf, starts),
        "min_dl": np.minimum.reduceat(dl, starts),
        "doc_ids_packed": pack_blocks(gaps, starts, ends),
        "tfs_packed": pack_blocks(tf, starts, ends),
        "dls_packed": pack_blocks(dl, starts, ends),
    }
    if part is not None:
        out = {"part_id": part[starts], **out}
    return out


def _empty_postings_pdf(carry_part_id: bool = False) -> pd.DataFrame:
    cols = {
        "term_id": pd.Series(dtype="int64"),
        "salt": pd.Series(dtype="int32"),
        "block_id": pd.Series(dtype="int32"),
        "n": pd.Series(dtype="int32"),
        "base": pd.Series(dtype="int64"),
        "max_doc_id": pd.Series(dtype="int64"),
        "max_tf": pd.Series(dtype="int64"),
        "min_dl": pd.Series(dtype="int64"),
        "doc_ids_packed": pd.Series(dtype=object),
        "tfs_packed": pd.Series(dtype=object),
        "dls_packed": pd.Series(dtype=object),
    }
    if carry_part_id:
        cols = {"part_id": pd.Series(dtype="int32"), **cols}
    return pd.DataFrame(cols)


def _column(batches: list[pd.DataFrame], name: str) -> np.ndarray:
    arrs = [p[name].to_numpy(np.int64) for p in batches]
    return arrs[0] if len(arrs) == 1 else np.concatenate(arrs)


def _unsorted(descending: np.ndarray) -> ValueError:
    i = int(np.flatnonzero(descending)[0])
    return ValueError(
        f"encode input is not sorted by (term_id, salt, doc_id) at row {i + 1}: "
        "the exchange's sort keys drifted"
    )


def _encode_occ_map_fn(block_size: int, bits: tuple[int, int, int] | None):
    """mapInPandas fn of the build exchange: occurrence rows sorted by
    (term_id, salt, doc_id) on the JVM side → tf counted over runs → fused
    posting blocks. Arrow batch boundaries never break a run because the
    whole partition is concatenated first, per column (a pandas concat
    would consolidate the columns into one 2D block: strided copies).

    ``bits=(salt_bits, doc_bits, dl_bits)`` reads the one-column row
    ``tsdd = ((term_id << salt_bits | salt) << (doc_bits + dl_bits)) |
    doc_id << dl_bits | dl``: every field has a fixed width, so ordering
    tsdd IS ordering (term_id, salt, doc_id, dl), and one ``np.diff``
    finds the runs. ``bits=None`` reads the four-column row (term_id,
    salt, doc_id, dl), the fallback for widths that do not fit 63 bits.

    Either way the sort contract is checked in the same pass: a descending
    step raises, because it would otherwise wrap into a huge uint64 varint
    gap and corrupt the block silently."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = [p for p in it if len(p)]
        if not batches:
            yield _empty_postings_pdf()
            return
        if bits is not None:
            salt_bits, doc_bits, dl_bits = bits
            key = _column(batches, "tsdd")
            step = np.diff(key)
            if step.size and step.min() < 0:
                raise _unsorted(step < 0)
            same = step == 0
        else:
            term, salt, doc, dl = (
                _column(batches, c) for c in ("term_id", "salt", "doc_id", "dl")
            )
            lt = [a[1:] < a[:-1] for a in (term, salt, doc)]
            eq = [a[1:] == a[:-1] for a in (term, salt, doc)]
            descending = lt[0] | eq[0] & (lt[1] | eq[1] & lt[2])
            if descending.any():
                raise _unsorted(descending)
            same = eq[0] & eq[1] & eq[2]
        n = same.size + 1
        starts = np.flatnonzero(np.concatenate(([True], ~same)))
        tf = np.diff(np.append(starts, n))
        # all-unique input (tf ≡ 1, the common case for short turns) skips
        # the gathers
        gather = starts.size < n
        if bits is not None:
            if gather:
                key = key[starts]
            dd_bits = doc_bits + dl_bits
            ts = key >> dd_bits
            term, salt = ts >> salt_bits, ts & ((1 << salt_bits) - 1)
            dd = key & ((1 << dd_bits) - 1)
            doc, dl = dd >> dl_bits, dd & ((1 << dl_bits) - 1)
        elif gather:
            term, salt, doc, dl = term[starts], salt[starts], doc[starts], dl[starts]
        res = pd.DataFrame(
            _encode_sorted_arrays(term, salt, doc, tf, dl, None, block_size)
        )
        res["salt"] = res["salt"].astype("int32")
        yield res

    return fn


def _encode_map_fn(block_size: int):
    """mapInPandas fn over (part_id, term_id, salt, doc_id, tf, dl) rows in
    any order, compaction's encode (its only caller): each partition's rows
    are encoded by :func:`encode_partition_pdf`, part_id carried through."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Concatenate the partition's Arrow batches: groups are confined to
        # one partition by the repartition upstream (on part_id, or on
        # term_id and salt), but may span batches within it. Memory = one
        # shuffle partition (sized via spark.sql.shuffle.partitions).
        batches = [p for p in it]
        if not batches:
            yield _empty_postings_pdf(carry_part_id=True)
            return
        yield encode_partition_pdf(
            pd.concat(batches, ignore_index=True), block_size, carry_part_id=True
        )

    return fn


def packed_bytes_col() -> Column:
    """A block's payload bytes: its three packed columns' lengths."""
    return (
        F.length("doc_ids_packed") + F.length("tfs_packed") + F.length("dls_packed")
    )


def vocabulary(toks: DataFrame) -> DataFrame:
    """(term, cf, df) over a relation's ``_toks`` token arrays, in one
    map-combined aggregate: cf counts occurrences, and df counts the
    occurrences that are a term's first in its doc's sorted token array,
    so no ``countDistinct`` expansion (and no post-encode df pass) runs."""
    first = F.when(F.get("_s", F.col("_i") - 1) == F.col("term"), 0).otherwise(1)
    return (
        toks.select(F.array_sort("_toks").alias("_s"))
        .select("_s", F.posexplode("_s").alias("_i", "term"))
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("cf"),
            F.sum(first).cast("long").alias("df"),
        )
    )


def _write_doc_stats(toks: DataFrame, id_col: str, index_dir: str, mode: str) -> dict:
    """Write doc_stats (doc_id, dl = token count) from a relation's
    ``_toks`` arrays (an empty doc carries an empty array, so no join);
    return Σdl (``dl_sum``), max_dl, max_doc and min_doc, observed on the
    write."""
    obs = Observation("corpus_stats")
    write_table(
        toks.select(
            F.col(id_col).alias("doc_id"), F.size("_toks").cast("long").alias("dl")
        ).observe(
            obs, F.coalesce(F.sum("dl"), F.lit(0)).alias("dl_sum"),
            F.max("dl").alias("max_dl"),
            F.max("doc_id").alias("max_doc"), F.min("doc_id").alias("min_doc"),
        ),
        index_dir, "doc_stats", mode,
    )
    return obs.get


def exchange_row(
    enriched: DataFrame, vocab_n: int, salt_bits: int, stats: dict
) -> tuple[DataFrame, tuple[int, int, int] | None]:
    """The encode exchange's row over (term_id, salt, doc_id, dl)
    occurrences, and the ``bits`` :func:`_encode_occ_map_fn` reads it with.
    The one-column ``tsdd`` (8 bytes a row, a single-long sort key) is
    used whenever every field fits at widths chosen from driver-known
    maxima — ``vocab_n`` (max term id + 1), ``salt_bits``, and the
    doc_stats pass's doc_id and dl maxima; otherwise (negative or huge
    ids) the four columns travel."""
    dl_bits = max(1, int(stats["max_dl"] or 0).bit_length())
    doc_bits = max(1, int(stats["max_doc"] or 0).bit_length())
    dd_bits = doc_bits + dl_bits
    if int(stats["min_doc"] or 0) < 0 or vocab_n << (salt_bits + dd_bits) > 1 << 63:
        return enriched.select("term_id", "salt", "doc_id", "dl"), None
    tsdd = (
        F.shiftleft(F.shiftleft("term_id", salt_bits) + F.col("salt").cast("long"), dd_bits)
        + F.shiftleft(F.col("doc_id"), dl_bits)
        + F.col("dl")
    )
    return enriched.select(tsdd.alias("tsdd")), (salt_bits, doc_bits, dl_bits)


def _resolve_vocabulary(
    vocab: list, max_tid: int | None, n_salts_of=None
) -> tuple[list, list, list]:
    """Split an ingest's vocabulary ``(term, df_new, cf_new, term_id,
    n_salts)`` — term_id/n_salts null for a term the dictionary lacks —
    into the dictionary's update rows ``(term, df_new, cf_new)``, its fresh
    rows ``(term, term_id, df, cf, n_salts)`` and the encode's ``(term,
    term_id, n_salts)`` map. Fresh terms are numbered in term order from
    ``max_tid + 1`` (from 0 for an empty dictionary): the ids a dense rank
    over ``term`` would give them. A fresh term gets ``n_salts_of(df)``
    salts (a build's salt plan), else 1. Python orders ``str`` by code
    point, which is the UTF-8 byte order Spark sorts strings by."""
    nxt = 0 if max_tid is None else max_tid + 1
    updates, fresh, tmap = [], [], []
    for term, df_new, cf_new, tid, n_salts in sorted(vocab, key=lambda r: r[0]):
        if tid is None:
            tid, n_salts = nxt, n_salts_of(df_new) if n_salts_of else 1
            nxt += 1
            fresh.append((term, tid, df_new, cf_new, n_salts))
        else:
            updates.append((term, df_new, cf_new))
        tmap.append((term, tid, n_salts))
    return updates, fresh, tmap


def _bucket_width(n_docs: int, n_parts: int) -> int:
    """The doc layout's bucket width: ``n_parts`` buckets cover the ids."""
    return max(1, math.ceil(n_docs / n_parts))


def _empty_corpus(index_dir: str) -> ValueError:
    # no document: avgdl is undefined and there is nothing to encode
    return ValueError(f"empty corpus: no document to index into {index_dir}")


def _repeated_id(doc_id) -> ValueError:
    # df counts rows and the exchange keys each occurrence on its doc id, so
    # two rows of one id would count one document twice
    what = "a null doc_id" if doc_id is None else f"doc_id {doc_id} more than once"
    return ValueError(
        f"the input holds {what}: caller doc_ids must be unique and not null")


class _Ingested(NamedTuple):
    """The rows :func:`_ingest_on_driver` computed, before any write."""

    docs: int
    dl_sum: int
    doc_stats: pa.Table
    doc_map: pa.Table | None
    updates: list  # dictionary rows to grow: (term, df_new, cf_new)
    fresh: list  # dictionary rows to add: (term, term_id, df, cf, n_salts)
    parts: list  # (part_id, postings rows, postings, bytes), by part_id


def _ingest_on_driver(
    sel: DataFrame,
    id_col: str,
    order_cols: list[str] | None,
    doc_map_cols: list[str] | None,
    first: int,
    block_size: int,
    part_of: dict,
    *,
    base: str | None = None,
    salt_plan: tuple[int, int] | None = None,
    phases: list | None = None,
) -> _Ingested | None:
    """The driver side of a build and of an extend, one body for both
    (module docstring): everything but the writes. ``sel`` is the
    tokenized projection (``id_col`` or ``order_cols``, doc_map columns,
    ``_toks``); with ``order_cols`` doc ids are numbered from ``first`` in
    that order. ``part_of`` is the segments row's part rule (``layout``,
    ``n_parts``).

    ``base`` is the live index an extend's terms are looked up in, whose
    delta postings go to each term's last salt. A build has an empty base
    (None): every term is fresh, numbered from 0, with the salt plan
    ``salt_plan = (salt_threshold, target_salt_postings)`` on the term
    layout; each posting's salt is computed from ``doc_id - first`` as
    the Spark side's expression computes it, in doubles. ``phases``
    receives the ``collect`` and ``encode`` wall times. Returns None when
    ``sel`` has no row; a repeated or null caller id raises
    ``ValueError``."""
    t = time.perf_counter()
    one = sel.coalesce(1)
    tbl = (one.sortWithinPartitions(*order_cols) if order_cols else one).toArrow()
    if phases is not None:
        phases.append(("collect", time.perf_counter() - t))
    m = tbl.num_rows
    if m == 0:
        return None
    t = time.perf_counter()
    if order_cols:
        doc_id = pa.array(np.arange(first, first + m, dtype=np.int64))
    else:
        doc_id = tbl[id_col].cast(to_arrow_type(sel.schema[id_col].dataType))
        if pc.count_distinct(doc_id).as_py() < m:
            vc = pc.value_counts(doc_id)
            raise _repeated_id(next(
                (v for v, c in zip(vc.field("values").to_pylist(),
                                   vc.field("counts").to_pylist()) if c > 1),
                None,
            ))

    # (doc_id, term, tf, dl): a doc's one dl rides its group as the max
    toks = tbl["_toks"].combine_chunks()
    dl = pc.list_value_length(toks).cast(pa.int64())
    parent = pc.list_parent_indices(toks)
    occ = (
        pa.table({
            "doc_id": pc.take(doc_id.cast(pa.int64()), parent),
            "term": pc.list_flatten(toks),
            "dl": pc.take(dl, parent),
        })
        .group_by(["doc_id", "term"])
        .aggregate([("dl", "count"), ("dl", "max")])
        .rename_columns(["doc_id", "term", "tf", "dl"])
    )
    voc = occ.group_by("term").aggregate([("doc_id", "count"), ("tf", "sum")])
    # one typed array: the value set of a filter must have the column's type,
    # which a ChunkedArray of no chunks (no tokens in the input) does not give
    terms = voc["term"].combine_chunks()
    ids, max_tid = {}, None
    if base is not None:
        known = read_dictionary(base, pc.field("term").isin(terms))
        ids = dict(zip(known["term"].to_pylist(),
                       zip(known["term_id"].to_pylist(), known["n_salts"].to_pylist())))
        max_tid = footer_max(base, "dictionary", "term_id")
    vocab = [
        (t, df, cf, *ids.get(t, (None, None)))
        for t, df, cf in zip(terms.to_pylist(), voc["doc_id_count"].to_pylist(),
                             voc["tf_sum"].to_pylist())
    ]
    doc = part_of.get("layout") == "doc"
    n_salts_of = None
    if salt_plan is not None and not doc:
        threshold, target = salt_plan

        def n_salts_of(df: int) -> int:
            return math.ceil(df / target) if df > threshold else 1

    updates, fresh, tmap = _resolve_vocabulary(vocab, max_tid, n_salts_of)

    # each occurrence's (term_id, salt, part_id)
    at = pc.index_in(
        occ["term"], pa.array([r[0] for r in tmap], occ["term"].type)
    ).to_numpy()
    tid = np.array([r[1] for r in tmap], dtype=np.int64)[at]
    n_salts = np.array([r[2] for r in tmap], dtype=np.int64)[at]
    d = occ["doc_id"].to_numpy()
    local = d - first
    n_parts = int(part_of["n_parts"])
    if base is not None:
        salt = n_salts - 1
    elif doc:
        salt = (local.astype(np.float64) / _bucket_width(m, n_parts)).astype(np.int64)
    else:
        salt = np.minimum(
            ((local * n_salts).astype(np.float64) / m).astype(np.int64), n_salts - 1
        )
    if doc:
        part = salt
    else:
        pairs, inv = np.unique(
            np.column_stack((tid, salt)), axis=0, return_inverse=True
        )
        part = np.array(
            [hash_part_id(int(x), int(s), n_parts) for x, s in pairs], dtype=np.int64
        )[inv.ravel()]
    blocks = encode_partition_pdf(
        pd.DataFrame({
            "part_id": part, "term_id": tid, "salt": salt, "doc_id": d,
            "tf": occ["tf"].to_numpy(), "dl": occ["dl"].to_numpy(),
        }),
        block_size, carry_part_id=True,
    )
    post_schema = arrow_schema(POSTINGS_SCHEMA)
    parts = [
        (int(p),
         pa.Table.from_pandas(g[post_schema.names], post_schema, preserve_index=False),
         int(g["n"].sum()),
         int(sum(g[c].map(len).sum() for c in ("doc_ids_packed", "tfs_packed", "dls_packed"))))
        for p, g in blocks.groupby("part_id", sort=True)
    ]
    doc_map = pa.table({
        id_col: doc_id,
        **{c: tbl[c].cast(to_arrow_type(sel.schema[c].dataType)) for c in doc_map_cols},
    }) if doc_map_cols else None
    if phases is not None:
        phases.append(("encode", time.perf_counter() - t))
    return _Ingested(
        m, int(pc.sum(dl).as_py() or 0), pa.table({"doc_id": doc_id, "dl": dl}),
        doc_map, updates, fresh, parts,
    )


def _build_on_driver(
    sel: DataFrame,
    index_dir: str,
    id_col: str,
    order_cols: list[str] | None,
    doc_map_cols: list[str] | None,
    *,
    k1: float,
    b: float,
    block_size: int,
    n_parts: int,
    salt_threshold: int = 4096,
    target_salt_postings: int = 4096,
    layout: str = "term",
    resume: bool = False,
    fail_after_parts: int | None = None,
    id_offset: int = 0,
) -> dict:
    """The driver side of a build (module docstring): :func:`_ingest_on_driver`
    over an empty base, every table overwritten with pyarrow (a resume
    overwrites only the postings of the parts it encodes), then
    :func:`_commit`. Takes ``_build``'s arguments."""
    phases: list = []
    ing = _ingest_on_driver(
        sel, id_col, order_cols, doc_map_cols, id_offset, block_size,
        {"layout": layout, "n_parts": n_parts},
        salt_plan=(salt_threshold, target_salt_postings), phases=phases,
    )
    if ing is None:
        raise _empty_corpus(index_dir)
    done, todo = _todo(index_dir, n_parts, resume)
    t = time.perf_counter()
    built = [r for r in ing.parts if r[0] in todo]
    if done:
        for p, rows, _, _ in built:
            write_local(rows, index_dir, os.path.join("postings", f"part_id={p}"),
                        mode="overwrite")
    else:
        write_local_parts(
            {f"part_id={p}": rows for p, rows, _, _ in built}, index_dir, "postings"
        )
    write_local(arrow_rows(ing.fresh, TABLE_SCHEMAS["dictionary"]), index_dir,
                "dictionary", mode="overwrite")
    write_local(ing.doc_stats, index_dir, "doc_stats", mode="overwrite")
    if ing.doc_map is not None:
        write_local(ing.doc_map, index_dir, "doc_map", mode="overwrite")
    phases.append(("write", time.perf_counter() - t))
    counts = {p: (n, nbytes) for p, _, n, nbytes in ing.parts}
    return _commit(
        index_dir, [(p, *counts.get(p, (0, 0))) for p in todo],
        ing.docs, ing.dl_sum / ing.docs, k1=k1, b=b, block_size=block_size,
        n_parts=n_parts, layout=layout, resume=resume,
        fail_after_parts=fail_after_parts, phases=phases,
    )


def _todo(index_dir: str, n_parts: int, resume: bool) -> tuple[set, list]:
    """(parts with a complete lineage row, parts to encode): a resumed
    build skips the first."""
    done: set = set()
    lineage = read_local(index_dir, "build_lineage") if resume else None
    if lineage is not None:
        done = {r["part_id"] for r in lineage.to_pylist() if r["status"] == "complete"}
    return done, [p for p in range(n_parts) if p not in done]


def _commit(
    index_dir: str,
    parts: list,
    n_docs: int,
    avgdl: float,
    *,
    k1: float,
    b: float,
    block_size: int,
    n_parts: int,
    layout: str,
    resume: bool,
    fail_after_parts: int | None,
    phases: list,
) -> dict:
    """The commit tail of both sides: one lineage row per encoded part
    ``(part_id, postings, bytes)`` in ``parts`` (only the first
    ``fail_after_parts`` of them, then the injected failure), then
    segments, the completion marker; both written with pyarrow. Returns
    the build metrics."""
    t = time.perf_counter()
    rows = [(p, n_docs, postings, nbytes, "complete") for p, postings, nbytes in parts]
    fail = fail_after_parts is not None and len(rows) >= fail_after_parts
    if fail:
        rows = rows[:fail_after_parts]
    if rows:
        write_local(arrow_rows(rows, LINEAGE_SCHEMA), index_dir, "build_lineage",
                    mode="append" if resume else "overwrite")
    if fail:
        raise RuntimeError(f"injected failure after {len(rows)} part commits")
    doc = layout == "doc"
    seg = (FORMAT_VERSION, n_docs, avgdl, float(k1), float(b), int(block_size),
           TOKEN_PATTERN, int(n_parts),
           *(("doc", _bucket_width(n_docs, n_parts)) if doc else ()))
    schema = SEGMENTS_SCHEMA + (", layout string, bucket_width long" if doc else "")
    write_local(arrow_rows([seg], schema), index_dir, "segments", mode="overwrite")
    phases.append(("meta_writes", time.perf_counter() - t))
    postings_emitted, bytes_compressed = lineage_totals(index_dir)
    return {
        "parts": n_parts,
        "parts_built": len(parts),
        "postings_emitted": postings_emitted,
        "bytes_compressed": bytes_compressed,
        "phase_secs": {k: round(v, 3) for k, v in phases},
    }


def build_index(
    corpus: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    doc_map_cols: list[str] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    block_size: int = BLOCK_SIZE,
    salt_threshold: int = 4096,
    target_salt_postings: int = 4096,
    n_parts: int = 8,
    resume: bool = False,
    fail_after_parts: int | None = None,
) -> dict:
    """Build the index at ``index_dir`` from ``corpus`` (one row per
    document; ``id_col`` dense from 0). Returns build metrics.

    ``resume`` finishes an interrupted build: only the parts without a
    complete ``build_lineage`` row are encoded. ``fail_after_parts``
    raises after that many parts' lineage rows are written, before
    ``segments`` — the resume tests' crash (the analog of the reference's
    checkpoint kill/restart tests)."""
    return _build_corpus(
        corpus, index_dir, text_col, id_col, doc_map_cols, k1=k1, b=b,
        block_size=block_size, salt_threshold=salt_threshold,
        target_salt_postings=target_salt_postings, n_parts=n_parts,
        resume=resume, fail_after_parts=fail_after_parts,
    )


def _projection(df: DataFrame, text_col: str, cols: list) -> DataFrame:
    """``cols`` and ``text_col``'s ``_toks`` token array: the tokenized
    projection every ingest reads, and the one the sizing rule sizes."""
    return df.select(*cols, tokens_col(text_col).alias("_toks"))


@contextmanager
def _tokenized(
    src: DataFrame,
    text_col: str,
    id_col: str,
    order_cols: list[str] | None,
    keep: list[str],
    first: int = 0,
    phases: list | None = None,
) -> Iterator[tuple[DataFrame, int, int | None]]:
    """The Spark side's tokenize-and-count step (module docstring), run by
    every Spark build and extend before :func:`_build`. Yields ``(toks, n,
    min_id)``: the tokenized relation (``id_col``, ``keep``, ``_toks``),
    cached exactly once and populated by the job that counts it, its row
    count, and its smallest caller id; unpersists it on exit. With
    ``order_cols`` the id pass tokenizes, its per-partition counts give
    ``n``, the ids start at ``first`` and ``min_id`` is None. With caller
    ids one aggregate gives all three and the distinct count; a repeated or
    null id raises ``ValueError`` before anything is written. ``phases``
    receives the step's wall time."""
    t = time.perf_counter()
    pins: list = []
    try:
        if order_cols:
            n_out: list = []
            toks = assign_dense_ids(
                src, order_cols, id_col, pins=pins, n_out=n_out,
                pre_persist=lambda d: _projection(
                    d, text_col, ["_pid", *order_cols, *keep]),
            )
            # the ids come from a window that shuffles the token arrays by
            # _pid, which each of the four readers would repeat: cache the
            # numbered relation too, populated once (the pin above still
            # fixes the ids a lost block is recomputed with)
            toks = toks.withColumn(
                id_col, F.col(id_col) + F.lit(int(first))
            ).persist(StorageLevel.MEMORY_AND_DISK)
            pins.append(toks)
            toks.count()
            n, min_id = n_out[0], None
        else:
            toks = _projection(src, text_col, [id_col, *keep]).persist(
                StorageLevel.MEMORY_AND_DISK)
            pins.append(toks)
            n, min_id, n_ids = toks.agg(
                F.count("*"), F.min(id_col), F.count_distinct(id_col)
            ).collect()[0]
            if n_ids < n:
                rep = toks.groupBy(id_col).count().filter(F.col("count") > 1).first()
                raise _repeated_id(rep[0] if rep else None)
        if phases is not None:
            # assign_dense_ids materializes eagerly (range sampling, tokenize,
            # cache populate, count collect), as the aggregate does: a real
            # phase boundary, not lazy-plan time
            phases.append(("ids_tokenize_cache", time.perf_counter() - t))
        yield toks, n, min_id
    finally:
        for p in pins:
            p.unpersist()


def _build_corpus(
    corpus: DataFrame, index_dir: str, text_col: str, id_col: str,
    doc_map_cols: list[str] | None, **build_kw,
) -> dict:
    """Build ``corpus`` (ids assigned) on the side the sizing rule picks
    for its tokenized projection: :func:`_build_on_driver`, or
    :func:`_tokenized` and :func:`_build`."""
    keep = [c for c in (doc_map_cols or []) if c != id_col]
    sel = _projection(corpus, text_col, [id_col, *keep])
    if driver_sized(sel):
        return _build_on_driver(sel, index_dir, id_col, None, doc_map_cols, **build_kw)
    phases: list = []
    with _tokenized(corpus, text_col, id_col, None, keep, phases=phases) as (toks, n, _):
        return _build(toks, index_dir, id_col, doc_map_cols, n_docs=n, phases=phases,
                      **build_kw)


def build_index_transcripts(
    src: DataFrame,
    index_dir: str,
    order_cols: list[str],
    text_col: str = "text",
    doc_map_cols: list[str] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    block_size: int = BLOCK_SIZE,
    salt_threshold: int = 4096,
    target_salt_postings: int = 4096,
    n_parts: int = 8,
    id_offset: int = 0,
) -> dict:
    """Fused end-to-end build from a raw (un-id'd) transcripts table:
    dense-id assignment, tokenization, and the raw-text drop all happen
    inside the ONE pass that populates the only corpus-sized cache.
    ``id_offset`` shifts every assigned doc_id (a shard of a sharded index
    occupies the dense global range [offset, offset + n); index.sharded).

    Why this beats chaining ``assign_dense_ids`` + ``build_index`` (the
    round-1 shape): that chain caches the corpus WITH its text (for the
    deterministic-range pin) and then the token relation again inside the
    build — at 2→8 cores the measured build-scaling efficiency of the
    round-1 chain was 0.40 because the timed region was dominated by cache
    traffic, which saturates a single box's memory bandwidth long before
    the cores do. Here exactly one relation is ever cached — (_pid,
    order_cols, token array), raw text already projected away — and the
    scan reads text bytes once. Same output index (equivalence-tested).
    A driver-sized ``src`` caches nothing: its ids follow the order
    columns on the driver (module docstring)."""
    keep = [c for c in (doc_map_cols or []) if c not in order_cols]
    build_kw = dict(
        k1=k1, b=b, block_size=block_size, salt_threshold=salt_threshold,
        target_salt_postings=target_salt_postings, n_parts=n_parts,
        id_offset=id_offset,
    )
    sel = _projection(src, text_col, [*order_cols, *keep])
    if driver_sized(sel):
        return _build_on_driver(sel, index_dir, "doc_id", order_cols, doc_map_cols,
                                **build_kw)
    phases: list = []
    with _tokenized(src, text_col, "doc_id", order_cols, keep, id_offset,
                    phases) as (toks, n, _):
        return _build(toks, index_dir, "doc_id", doc_map_cols, n_docs=n,
                      phases=phases, **build_kw)


def _build(
    toks: DataFrame,
    index_dir: str,
    id_col: str,
    doc_map_cols: list[str] | None,
    *,
    n_docs: int,
    block_size: int,
    n_parts: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
    salt_threshold: int = 4096,
    target_salt_postings: int = 4096,
    layout: str = "term",
    resume: bool = False,
    fail_after_parts: int | None = None,
    id_offset: int = 0,
    base: str | None = None,
    phases: list | None = None,
) -> dict | tuple[int, int, int, int] | None:
    """The Spark side (module docstring) over ``toks``, the populated cache
    of ``n_docs`` rows of (``id_col``, ``_toks`` token array[, doc_map
    columns]) that :func:`_tokenized` yields; returns the build metrics.
    ``layout="doc"`` builds the doc-partitioned layout (``index.docpart``)
    with ``n_parts`` doc buckets; the salt plan's arguments are then
    unused. An empty corpus raises before anything is written.

    ``base`` is the live index an extend's delta goes into (``index_dir``
    itself; the term layout): its terms are looked up there, each posting
    goes to its term's last salt, the tables are appended to, and the
    commit is left to ``extend_index``, which gets the delta's (docs, Σdl,
    postings, bytes); an empty delta returns None and writes nothing."""
    if not n_docs:
        if base is None:
            raise _empty_corpus(index_dir)
        return None
    spark = toks.sparkSession
    phases = [] if phases is None else phases
    doc = layout == "doc"
    part_of = {"layout": layout, "n_parts": n_parts}
    mode = "overwrite" if base is None else "append"

    def _tick(name: str, t0: float) -> None:
        phases.append((name, time.perf_counter() - t0))

    def _timed(name: str, fn):
        def run() -> None:
            t0 = time.perf_counter()
            fn()
            _tick(name, t0)

        return run

    done, todo = _todo(index_dir, n_parts, resume)

    # doc_map and doc_stats read only the populated cache, so their writes
    # overlap everything up to the encode (phase wall times therefore
    # overlap; build_sec is the truth)
    dm_job = None
    if doc_map_cols:
        dm = toks.select(id_col, *doc_map_cols)
        dm_job = _bg_job(_timed(
            "doc_map_write", lambda: write_table(dm, index_dir, "doc_map", mode)))
    stats: dict = {}
    ds_job = _bg_job(_timed("doc_stats_write", lambda: stats.update(
        _write_doc_stats(toks, id_col, index_dir, mode))))

    # the dictionary: term_id + df/cf + n_salts, and the exchange's term
    # and salt widths, all final before the encode
    t = time.perf_counter()
    pins: list = []
    if base is None:
        # term ids dense in term order, the df salt plan; the vocabulary
        # size and max n_salts ride assign_dense_ids' own count collect (no
        # separate pack-plan job). The doc layout subsumes salting: a
        # term's run in one bucket is capped at bucket_width docs.
        n_salts = F.lit(1) if doc else F.when(
            F.col("df") > salt_threshold,
            F.ceil(F.col("df") / F.lit(target_salt_postings)).cast("int"),
        ).otherwise(F.lit(1))
        n_terms: list = []
        mx: dict = {}
        dct = assign_dense_ids(
            vocabulary(toks).withColumn("n_salts", n_salts), ["term"],
            id_col="term_id", pins=pins, n_out=n_terms,
            max_of={"n_salts": F.col("n_salts")}, max_out=mx,
        ).persist()
        pins.append(dct)
        terms = dct.select("term", "term_id", "n_salts")
        width, max_salts = int(n_terms[0]), mx.get("n_salts")

        def write_dictionary() -> None:
            write_table(dct.select("term", "term_id", "df", "cf", "n_salts"),
                        index_dir, "dictionary")
    else:
        from .extend import _rewrite_dictionary  # extend imports this module

        # the delta vocabulary and its existing (term_id, n_salts), in one
        # collect; fresh terms are numbered from the footer max term id
        vocab = (
            vocabulary(toks)
            .join(read_table(spark, base, "dictionary")
                  .select("term", "term_id", "n_salts"), "term", "left")
            .select("term", "df", "cf", "term_id", "n_salts")
            .collect()
        )
        updates, fresh, tmap = _resolve_vocabulary(
            vocab, footer_max(base, "dictionary", "term_id"))
        terms = local_relation(spark, tmap, "term string, term_id long, n_salts int")
        width = 1 + max((r[1] for r in tmap), default=-1)
        max_salts = max((r[2] for r in tmap), default=1)

        def write_dictionary() -> None:
            _rewrite_dictionary(spark, base, updates, fresh)
    _tick("term_ids", t)
    _bg_join(*ds_job)
    dl_sum = int(stats["dl_sum"])
    # the dictionary is final: its write overlaps the encode
    dct_job = _bg_job(_timed("dictionary_write", write_dictionary))

    # salt from the SHARD-LOCAL rank (doc_id - id_offset): a sharded
    # build's ids start at its global offset, and salting must span the
    # shard's own [0, n_docs) range to keep doc-range sub-lists balanced;
    # an extend's delta ids all lie past that range, in the last salt
    local = F.col("doc_id") - F.lit(int(id_offset))
    salt_bits = max(1, (int(max_salts or 1) - 1).bit_length())
    if base is not None:
        salt = (F.col("n_salts") - 1).cast("int")
    elif doc:
        # the salt IS the doc bucket: encoder groups are (term_id, salt), so
        # no posting block straddles a bucket even when one shuffle task
        # holds several buckets
        salt = (local / F.lit(_bucket_width(n_docs, n_parts))).cast("int")
        salt_bits = max(1, int(n_parts).bit_length())
    else:
        salt = F.least(
            (local * F.col("n_salts") / F.lit(n_docs)).cast("int"),
            F.col("n_salts") - 1,
        ).cast("int")
    enriched = (
        toks.select(
            F.col(id_col).alias("doc_id"),
            F.size("_toks").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .join(F.broadcast(terms), "term")
        .withColumn("salt", salt)
    )
    if done:
        enriched = enriched.filter(part_id_col(part_of).isin(todo))
    row, bits = exchange_row(enriched, width, salt_bits, stats)
    # partition on the (term, salt) prefix: it co-locates each run and
    # still spreads a hot term's salts over partitions; the doc layout
    # partitions on the salt bits alone, so a task writes whole buckets
    if bits:
        prefix = F.shiftright("tsdd", bits[1] + bits[2])
        keys = [prefix.bitwiseAND((1 << salt_bits) - 1) if doc else prefix]
    else:
        keys = ["salt"] if doc else ["term_id", "salt"]

    metrics: dict = {}
    if todo:
        # the parts' postings and bytes are observed during the write (no
        # re-read pass); part_id is derived over the ~block_size×-smaller
        # block relation, never shipped per occurrence
        obs = Observation("build_metrics")
        per_part = []
        for p in todo:
            in_p = F.col("part_id") == p
            per_part += [
                F.sum(F.when(in_p, F.col("n"))).alias(f"postings_{p}"),
                F.sum(F.when(in_p, packed_bytes_col())).alias(f"bytes_{p}"),
            ]
        blocks = (
            # the JVM sorts the exchange (Tungsten's off-heap sort keeps
            # scaling when workers share a socket), so the Arrow worker only
            # counts runs; partitions are sized from the occurrence count
            # (Σdl), capped at the configured shuffle partitions
            row.repartition(sized_shuffle_n(row, dl_sum), *keys)
            .sortWithinPartitions(*(["tsdd"] if bits else ["term_id", "salt", "doc_id"]))
            .mapInPandas(_encode_occ_map_fn(block_size, bits), schema=POSTINGS_SCHEMA)
            .withColumn("part_id", part_id_col(part_of))
            .observe(obs, *per_part)
        )
        if doc:
            # bucket files sorted by term_id: term lookups prune row groups
            blocks = blocks.sortWithinPartitions("term_id", "block_id")
        writer = blocks.write.mode(mode).partitionBy("part_id")
        if done:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        # doc_map first: the Arrow batch-size override is session-global,
        # and the corpus-sized exchange deserves the whole quota anyway
        if dm_job is not None:
            _bg_join(*dm_job)
            dm_job = None
        t = time.perf_counter()
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        with _ARROW_BATCH_LOCK:
            prev = spark.conf.get(key, None)
            spark.conf.set(key, str(ENCODE_ARROW_BATCH))
            try:
                writer.parquet(table_path(index_dir, "postings"))
            finally:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)
        _tick("encode_shuffle_write", t)
        metrics = obs.get
    for job in (dm_job, dct_job):
        if job is not None:
            _bg_join(*job)
    for p in pins:
        p.unpersist()

    parts = [(p, int(metrics[f"postings_{p}"] or 0), int(metrics[f"bytes_{p}"] or 0))
             for p in todo]
    if base is not None:
        return (n_docs, dl_sum, sum(r[1] for r in parts), sum(r[2] for r in parts))
    return _commit(
        index_dir, parts, n_docs, dl_sum / n_docs, k1=k1, b=b,
        block_size=block_size, n_parts=n_parts, layout=layout, resume=resume,
        fail_after_parts=fail_after_parts, phases=phases,
    )
